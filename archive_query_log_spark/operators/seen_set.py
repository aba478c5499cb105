"""URL-seen set: deterministic-ID + create-if-absent semantics at scale
(SURVEY.md §1.4 item 2; north_rule bloom/cuckoo requirement).

Reference semantics reproduced: a URL is "seen" iff its canonical key already
exists — the reference gets this from deterministic uuid5 IDs + Elasticsearch
``create``-if-absent ops (/root/reference/archive_query_log/captures/__init__.py:124-125,
sources/__init__.py:56). The rebuild:

1. **Exact path** (ground truth): first-seen-per-key within the batch
   (min-by ts — SURVEY A8) + left-anti join against the seen table. Correct,
   but the anti-join shuffles the full 10^10-row seen table every wave.
2. **Bloom-shard path** (scale path): per-bucket Bloom filters stored as
   binary blobs, co-partitioned with the frontier on ``pmod(xxhash64(key), n)``.
   Probing is a broadcast/bucket join + a *fully vectorized* numpy bit test —
   the two 64-bit hashes are computed JVM-side (xxhash64) before the Arrow
   boundary, so no per-row Python anywhere. Bloom "maybe seen" rows (the only
   candidates that can be false positives) fall back to the exact anti-join,
   which now touches only ~fpp · batch rows. Zero false negatives by
   construction → final seen set is *exactly* the reference's.
3. **Cuckoo-shard path**: same sharding, 16-bit fingerprints, supports
   deletion (Bloom cannot) — used when captures are retracted.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

HASH_SEED_1 = 0x51ED
HASH_SEED_2 = 0xC0FFEE

SHARD_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("bits", BinaryType(), False),
        StructField("m", LongType(), False),
        StructField("k", IntegerType(), False),
        StructField("n", LongType(), False),
        # the bucketing modulus is part of the filter's identity: probing
        # with a different n_buckets than the build silently yields false
        # negatives, so shards record it and probes derive it
        StructField("nb", IntegerType(), False),
    ]
)


# Bloom bit-position layout, recorded per shard row (column ``pl``) like the
# bucketing modulus: 0 = g_i = h1 + i·h2 (legacy — h1 also picks the bucket,
# so every key of a bucket shares h1's low bits and the first position only
# reaches 1/n_buckets of the bitmap); 1 = the same double hashing from h1
# rotated by 32 bits, whose low bits do not pick the bucket. Shards without
# the column are layout 0; update_bloom_shards rebuilds them.
BLOOM_LAYOUT = 1

BLOOM_SHARD_SCHEMA = StructType(
    SHARD_SCHEMA.fields + [StructField("pl", IntegerType(), False)]
)


def _with_position_layout(shards: DataFrame) -> DataFrame:
    if "pl" in shards.columns:
        return shards
    return shards.withColumn("pl", F.lit(0))


def _shard_n_buckets(shards: DataFrame) -> int:
    return int(shards.select("nb").first()["nb"])


def _bloom_build_pdf(pdf: pd.DataFrame, cfg: "BloomConfig") -> pd.DataFrame:
    """The one shard-build closure (used by fresh builds AND rebuilds — a
    single copy of the sizing rule keeps the two paths bit-compatible)."""
    n = len(pdf)
    m = max(cfg.min_bits, 1 << int(np.ceil(np.log2(max(1, n) * cfg.bits_per_key))))
    pos = _bloom_positions(
        pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy(), cfg.k, m, BLOOM_LAYOUT
    )
    bits = np.zeros(m // 8, dtype=np.uint8)
    flat = pos.ravel()
    np.bitwise_or.at(bits, flat // 8, (1 << (flat % 8)).astype(np.uint8))
    return pd.DataFrame(
        {
            "bucket": [int(pdf["bucket"].iloc[0])],
            "bits": [bits.tobytes()],
            "m": [m],
            "k": [cfg.k],
            "n": [n],
            "nb": [cfg.n_buckets],
            "pl": [BLOOM_LAYOUT],
        }
    )


def first_seen_in_batch(
    batch: DataFrame, key_col: str = "url_key", ts_col: str = "ts"
) -> DataFrame:
    """A8 min-by dedup: keep the earliest (ts, key) row per canonical key —
    the reference's collision rule (deterministic ID → first create wins).

    min_by aggregation instead of a row_number window (guide §2.3): the
    map-side partial aggregation collapses duplicate keys before the
    shuffle (the ~5% dup share never crosses the wire twice). The
    struct-valued buffer compiles to a SortAggregate (structs are not
    hash-agg buffer types) — a map-side sort replaces the window's
    reduce-side sort — and the fewer shuffled rows still win: 0.92 →
    0.78 s on the 2M-row crawl dedup in one interleaved A/B session. The
    struct(ts, id) ordering reproduces the window's (ts asc, id asc)
    order including its nulls-first behavior per field; ids are unique,
    so the kept row is identical. Output columns and order are unchanged.
    """
    row = F.struct(*[F.col(c) for c in batch.columns])
    return (
        batch.groupBy(F.col(key_col).alias("_k"))
        .agg(F.min_by(row, F.struct(F.col(ts_col), F.col("id"))).alias("_r"))
        .select(*[F.col(f"_r.{c}").alias(c) for c in batch.columns])
    )


def exact_new(
    batch: DataFrame, seen: DataFrame | None, key_col: str = "url_key"
) -> DataFrame:
    """Ground-truth novelty: batch ⟕anti seen on the canonical key."""
    if seen is None:
        return batch
    seen_keys = seen.select(F.col(key_col)).dropDuplicates([key_col])
    return batch.join(seen_keys, on=key_col, how="left_anti")


def with_hashes(df: DataFrame, key_col: str, n_buckets: int) -> DataFrame:
    """Attach (bucket, h1, h2) JVM-side — the only hashing the filters need."""
    return (
        df.withColumn("_h1", F.xxhash64(F.col(key_col), F.lit(HASH_SEED_1)))
        .withColumn("_h2", F.xxhash64(F.col(key_col), F.lit(HASH_SEED_2)))
        .withColumn("bucket", F.pmod(F.col("_h1"), F.lit(n_buckets)).cast("int"))
    )


def _bloom_positions(
    h1: np.ndarray, h2: np.ndarray, k: int, m: int, layout: int
) -> np.ndarray:
    """(len, k) bit positions via double hashing g_i = a + i·h2 mod m, with
    a = h1 (layout 0) or h1 rotated by 32 bits (layout 1, BLOOM_LAYOUT)."""
    i = np.arange(k, dtype=np.uint64)
    a = h1.astype(np.uint64)
    if layout == 1:
        a = (a >> np.uint64(32)) | (a << np.uint64(32))
    elif layout != 0:
        raise ValueError(f"unknown bloom position layout {layout}")
    return (a[:, None] + i[None, :] * h2.astype(np.uint64)[:, None]) % np.uint64(m)


@dataclass
class BloomConfig:
    n_buckets: int = 32
    bits_per_key: int = 16  # fpp ≈ 0.0004 at k=8
    k: int = 8
    min_bits: int = 1 << 12


def build_bloom_shards(
    keys: DataFrame, key_col: str = "url_key", cfg: BloomConfig | None = None
) -> DataFrame:
    """Per-bucket Bloom bitmap build — one groupBy-applyInPandas pass.

    Shuffle: one hash-partition on bucket (the same partitioning the frontier
    uses, so wave-over-wave probes are co-located)."""
    cfg = cfg or BloomConfig()
    hashed = with_hashes(
        keys.select(key_col).dropDuplicates([key_col]), key_col, cfg.n_buckets
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        return _bloom_build_pdf(pdf, cfg)

    return hashed.groupBy("bucket").applyInPandas(build, BLOOM_SHARD_SCHEMA)


# Auto layout cutover: broadcast the shard set while its total blob bytes
# fit comfortably in driver + executor memory; beyond this, co-partition.
_BROADCAST_SHARDS_MAX_BYTES = 256 << 20


def shard_total_bytes(shards: DataFrame, kind: str = "bloom") -> int:
    """Summed filter-blob bytes of a shard table (an n_buckets-row agg).

    The number is STATIC per shard snapshot — compute it once when the
    snapshot is committed (stash it in the snapshot manifest's meta, as the
    crawl pipeline does) and pass it to the probes as ``shard_size_bytes``
    so layout auto-selection stops costing one Spark job per probe
    construction."""
    expr = _bloom_size_bytes() if kind == "bloom" else _cuckoo_size_bytes()
    total = shards.agg(F.sum(expr).alias("b")).first()["b"]
    return int(total) if total is not None else 0


def _probe_with_layout(
    batch: DataFrame,
    shards: DataFrame,
    key_col: str,
    n_buckets: int | None,
    broadcast_shards: bool | None,
    meta_cols: tuple[str, ...],
    kernel,
    size_bytes_fn,
    shard_size_bytes: int | None = None,
):
    """Shared layout machinery for the sharded-filter probes (Bloom and
    cuckoo differ only in their per-bucket membership ``kernel``).

    The filter blobs never ride per-row: at 10M seen keys a shard bitmap
    is ~0.5 MB, and a join-then-probe layout (the pre-round-6
    implementation) duplicated each bucket's blob onto EVERY batch row
    crossing the Arrow boundary — ~1 TB of Arrow traffic per 2M-row wave,
    found by the 10M-URL soak (filtered_new was 464 s; small fixtures
    never showed it because their bitmaps are bytes, not MBs).

    - broadcast layout: the shard table (n_buckets rows) is collected once
      and shipped as a Spark BROADCAST VARIABLE; probing is a map-only
      mapInPandas over JVM-side hashes — zero shuffle of the batch, each
      executor deserializes each blob once. NOTE this collects (runs a
      job) at plan-CONSTRUCTION time and probes that snapshot of the shard
      table — the pipeline always probes pinned snapshot versions, so this
      is the wanted semantics there; callers that mutate the shard table
      between constructing and executing a probe plan must rebuild the
      plan.
    - cogrouped layout (when the shard set outgrows a broadcast at 10^10
      keys): bucket-COGROUPED applyInPandas — batch and shards
      co-partitioned on bucket, each blob crossing the Arrow boundary once
      per group, not once per row.
    - ``broadcast_shards=None`` (default) auto-selects: broadcast while
      the summed blob bytes (``shard_size_bytes`` when the caller knows it
      — e.g. from the snapshot manifest the pipeline stashes it in — else
      an n_buckets-row metadata agg) stay under
      ``_BROADCAST_SHARDS_MAX_BYTES``.

    Returns ``(probed_df, broadcast_handle_or_None)`` so callers that
    materialize the result can unpersist the broadcast instead of leaving
    cleanup to the GC→ContextCleaner chain (one leaked shard dict per
    round adds up over a 10^4-round crawl).
    """
    n_buckets = n_buckets if n_buckets is not None else _shard_n_buckets(shards)
    if broadcast_shards is None:
        total = (
            shard_size_bytes
            if shard_size_bytes is not None
            else shards.agg(F.sum(size_bytes_fn()).alias("b")).first()["b"]
        )
        broadcast_shards = total is not None and int(total) <= _BROADCAST_SHARDS_MAX_BYTES
    hashed = with_hashes(batch, key_col, n_buckets)
    keep = [f for f in hashed.schema.fields if f.name not in ("_h1", "_h2")]
    keep_names = [f.name for f in keep]
    out_schema = StructType(keep + [StructField("maybe_seen", BooleanType(), True)])

    if broadcast_shards:
        shard_map = {
            int(r["bucket"]): {
                c: (bytes(r[c]) if c == "bits" else r[c]) for c in meta_cols
            }
            for r in shards.select("bucket", *meta_cols).collect()
        }
        bc = batch.sparkSession.sparkContext.broadcast(shard_map)

        def probe(it):
            sm = bc.value
            for pdf in it:
                pdf = pdf.reset_index(drop=True)
                maybe = np.zeros(len(pdf), dtype=bool)
                # one vectorized membership test per bucket in this batch
                for b, grp in pdf.groupby("bucket"):
                    ent = sm.get(int(b))
                    if ent is None:
                        continue
                    maybe[grp.index.to_numpy()] = kernel(
                        ent, grp["_h1"].to_numpy(), grp["_h2"].to_numpy()
                    )
                out = pdf[keep_names].copy()
                out["maybe_seen"] = maybe
                yield out

        return hashed.mapInPandas(probe, out_schema), bc

    def probe_group(batch_pdf: pd.DataFrame, shard_pdf: pd.DataFrame):
        batch_pdf = batch_pdf.reset_index(drop=True)
        maybe = np.zeros(len(batch_pdf), dtype=bool)
        if len(shard_pdf) and len(batch_pdf):
            ent = {
                c: (
                    bytes(shard_pdf[c].iloc[0])
                    if c == "bits"
                    else shard_pdf[c].iloc[0]
                )
                for c in meta_cols
            }
            maybe = kernel(
                ent, batch_pdf["_h1"].to_numpy(), batch_pdf["_h2"].to_numpy()
            )
        out = batch_pdf[keep_names].copy()
        out["maybe_seen"] = maybe
        return out

    probed = (
        hashed.groupBy("bucket")
        .cogroup(shards.groupBy("bucket"))
        .applyInPandas(probe_group, out_schema)
    )
    return probed, None


def _bloom_kernel(ent: dict, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    bits = np.frombuffer(ent["bits"], dtype=np.uint8)
    m, k = int(ent["m"]), int(ent["k"])
    pos = _bloom_positions(h1, h2, k, m, int(ent["pl"]))
    return ((bits[pos // 8] & (1 << (pos % 8)).astype(np.uint8)) != 0).all(axis=1)


def _bloom_size_bytes():
    # bloom bitmap is m bits -> m/8 stored bytes
    return F.col("m") / F.lit(8)


def bloom_probe(
    batch: DataFrame,
    shards: DataFrame,
    key_col: str = "url_key",
    n_buckets: int | None = None,
    broadcast_shards: bool | None = None,
    shard_size_bytes: int | None = None,
    broadcast_out: list | None = None,
) -> DataFrame:
    """Adds ``maybe_seen`` (bool). False ⇒ definitely new (no false
    negatives). Layouts, auto-selection, and the never-per-row blob rule:
    see ``_probe_with_layout``.

    Repeated-probe callers: pass a list as ``broadcast_out`` — when the
    broadcast layout is chosen, the shard Broadcast handle is appended to
    it; call ``.unpersist()`` once the probed result is materialized.
    Without it, release waits on GC→ContextCleaner — one retained shard
    dict (up to the 256 MB cutover) per probe adds up over a 10^4-round
    crawl. ``filtered_new`` does this housekeeping itself."""
    probed, bc = _probe_with_layout(
        batch, _with_position_layout(shards), key_col, n_buckets,
        broadcast_shards, ("bits", "m", "k", "pl"), _bloom_kernel,
        _bloom_size_bytes, shard_size_bytes=shard_size_bytes,
    )
    if bc is not None and broadcast_out is not None:
        broadcast_out.append(bc)
    return probed


def update_bloom_shards(
    shards: DataFrame,
    new_keys: DataFrame,
    all_keys: DataFrame,
    key_col: str = "url_key",
    cfg: BloomConfig | None = None,
) -> DataFrame:
    """Incremental shard maintenance: OR the new keys' bits into each
    bucket's bitmap while its design capacity holds; buckets that would
    exceed ``bits_per_key`` load are rebuilt from ``all_keys`` (that bucket
    only). Rebuilding every shard from the full seen set each round — the
    naive alternative — is an O(|seen|) pass per round and unusable at
    10^10 keys; this path is O(|new| + rebuilt buckets).

    Guarantee preserved: zero false negatives (OR only adds bits; rebuilds
    re-insert every key of the bucket). Shards built under an older bit-
    position layout are rebuilt too, so no bitmap is ever probed or OR-ed
    with a formula other than the one that built it.
    """
    cfg = cfg or BloomConfig()
    shards = _with_position_layout(shards)
    nb = _shard_n_buckets(shards)
    if nb != cfg.n_buckets:
        raise ValueError(
            f"shards were built with n_buckets={nb}, update requested "
            f"{cfg.n_buckets} — rebucketing requires a full rebuild"
        )
    hashed = with_hashes(
        new_keys.select(key_col).dropDuplicates([key_col]), key_col, cfg.n_buckets
    )
    # Which buckets need a rebuild is decidable from METADATA alone
    # (per-bucket add counts vs design capacity) — no bitmap blob and no
    # Python worker is touched to decide, and the adds shuffle runs ONCE
    # (the pre-round-6 layout collect_list'ed every bucket's adds into a
    # single array row — a giant-row hazard at 10^8 new keys/round — and
    # double-executed the blob-producing map to read its rebuild flags).
    counts = hashed.groupBy("bucket").agg(F.count("*").alias("n_add"))
    meta = (
        shards.select("bucket", "m", "n", "pl")
        .join(counts, on="bucket", how="full_outer")
    )
    rebuild = [
        int(r["bucket"])
        for r in meta.where(
            F.col("m").isNull()  # brand-new bucket
            | (F.col("pl") != BLOOM_LAYOUT)
            | (
                (F.col("n") + F.coalesce(F.col("n_add"), F.lit(0)))
                * cfg.bits_per_key
                > F.col("m")
            )
        )
        .select("bucket")
        .collect()
    ]
    kept_shards = shards
    kept_adds = hashed.select("bucket", "_h1", "_h2")
    if rebuild:
        kept_shards = kept_shards.where(~F.col("bucket").isin(rebuild))
        kept_adds = kept_adds.where(~F.col("bucket").isin(rebuild))

    def or_update(shard_pdf: pd.DataFrame, adds_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(shard_pdf):  # adds-only bucket → handled by the rebuild leg
            return pd.DataFrame(columns=[f.name for f in BLOOM_SHARD_SCHEMA.fields])
        r = shard_pdf.iloc[0]
        bits, m, k, n = r["bits"], int(r["m"]), int(r["k"]), int(r["n"])
        if len(adds_pdf):
            arr = np.frombuffer(bits, dtype=np.uint8).copy()
            pos = _bloom_positions(
                adds_pdf["_h1"].to_numpy(), adds_pdf["_h2"].to_numpy(), k, m,
                int(r["pl"]),
            ).ravel()
            np.bitwise_or.at(arr, pos // 8, (1 << (pos % 8)).astype(np.uint8))
            bits, n = arr.tobytes(), n + len(adds_pdf)
        return pd.DataFrame(
            {
                "bucket": [int(r["bucket"])],
                "bits": [bits],
                "m": [m],
                "k": [k],
                "n": [n],
                "nb": [int(r["nb"])],
                "pl": [int(r["pl"])],
            }
        )

    updated = (
        kept_shards.groupBy("bucket")
        .cogroup(kept_adds.groupBy("bucket"))
        .applyInPandas(or_update, BLOOM_SHARD_SCHEMA)
    )
    if not rebuild:
        return updated
    # per-bucket rebuild through the SAME build closure as fresh builds
    rb_keys = with_hashes(
        all_keys.select(key_col).dropDuplicates([key_col]), key_col, cfg.n_buckets
    ).where(F.col("bucket").isin(rebuild))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        return _bloom_build_pdf(pdf, cfg)

    rebuilt = rb_keys.groupBy("bucket").applyInPandas(build, BLOOM_SHARD_SCHEMA)
    return updated.unionByName(rebuilt)


# ---------------------------------------------------------------------------
# Cuckoo-filter shards: the deletion-capable variant (north_rule "cuckoo
# fallback for deletions" — Bloom bits cannot be cleared per-key).
# Layout per shard: M buckets × 4 slots of 16-bit fingerprints (0 = empty);
# candidate buckets i1 = h1 mod M, i2 = i1 XOR (fp · 0x5bd1e995) mod M —
# standard partial-key cuckoo hashing. Contains/delete are vectorized numpy;
# insert is a per-key loop with bounded eviction (build-time only).
# ---------------------------------------------------------------------------

_CK_SLOTS = 4
_CK_MIX = 0x5BD1E995


class CuckooShard:
    def __init__(self, n_keys: int):
        m = 1
        while m * _CK_SLOTS < n_keys * 1.3:
            m *= 2
        self.m = max(m, 64)
        self.table = np.zeros((self.m, _CK_SLOTS), dtype=np.uint16)

    @staticmethod
    def _fp(h1: np.ndarray) -> np.ndarray:
        # fingerprint from the HIGH bits — the bucket index consumes the low
        # bits (h mod m), so fp and index must come from independent bits or
        # every same-bucket fp shares log2(m) bits and fpp explodes
        fp = ((h1.astype(np.uint64) >> np.uint64(32)) & np.uint64(0xFFFF)).astype(
            np.uint16
        )
        return np.where(fp == 0, np.uint16(1), fp)

    def _i1(self, h1: np.ndarray) -> np.ndarray:
        return (h1.astype(np.uint64) % np.uint64(self.m)).astype(np.int64)

    def _i2(self, i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        # xor with the masked mix so partner() is an involution (m = 2^k):
        # partner(partner(i)) == i — required for the eviction walk
        mixed = (fp.astype(np.uint64) * np.uint64(_CK_MIX)) & np.uint64(self.m - 1)
        return (i1.astype(np.uint64) ^ mixed).astype(np.int64)

    def _partner(self, i: int, fp: int) -> int:
        # scalar twin of _i2 (the vectorized form allocates arrays per call
        # — too slow inside the per-key walk)
        return i ^ ((fp * _CK_MIX) & (self.m - 1))

    def insert_many(self, h1: np.ndarray, rng_seed: int = 7) -> None:
        """Deterministic random-walk insertion (Fan et al. cuckoo-filter
        shape): try both home buckets, then kick a pseudo-random slot of
        the CURRENT bucket and follow the evicted fingerprint to ITS
        partner. The eviction bucket must move every step — the previous
        implementation evicted from the incoming key's alt bucket and, when
        the evicted fp's partner was full, recomputed that same alt bucket
        (partner is an involution), so the walk was trapped in an ≤8-bucket
        neighborhood and builds failed at 56% load. Found by the round-7
        12M-key soak (25k keys/bucket); the corrected walk fills to ~0.95
        load, comfortably above the 0.77 build sizing. Slot choice uses the
        LCG's HIGH bits (low bits of an LCG cycle with period 4)."""
        fps = self._fp(h1)
        i1s = self._i1(h1)
        state = int(rng_seed)
        table = self.table
        for fp0, i0 in zip(fps, i1s):
            fp = int(fp0)
            i = int(i0)
            row = table[i]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = fp
                continue
            cur = self._partner(i, fp)
            row = table[cur]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = fp
                continue
            for _ in range(500):  # bounded eviction walk
                state = (state * 6364136223846793005 + 1) % (1 << 64)
                slot = (state >> 33) % _CK_SLOTS
                fp, table[cur, slot] = int(table[cur, slot]), fp
                cur = self._partner(cur, fp)
                row = table[cur]
                empty = np.flatnonzero(row == 0)
                if len(empty):
                    row[empty[0]] = fp
                    break
            else:
                raise RuntimeError("cuckoo filter over capacity")

    def contains_many(self, h1: np.ndarray) -> np.ndarray:
        fps = self._fp(h1)
        i1 = self._i1(h1)
        i2 = self._i2(i1, fps)
        t = self.table
        hit1 = (t[i1] == fps[:, None]).any(axis=1)
        hit2 = (t[i2] == fps[:, None]).any(axis=1)
        return hit1 | hit2

    def delete_many(self, h1: np.ndarray) -> int:
        fps = self._fp(h1)
        i1 = self._i1(h1)
        i2 = self._i2(i1, fps)
        deleted = 0
        for fp, a, b in zip(fps, i1, i2):
            for i in (int(a), int(b)):
                row = self.table[i]
                hits = np.flatnonzero(row == fp)
                if len(hits):
                    row[hits[0]] = 0
                    deleted += 1
                    break
        return deleted

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes, m: int) -> "CuckooShard":
        s = cls.__new__(cls)
        s.m = m
        s.table = np.frombuffer(buf, dtype=np.uint16).reshape(m, _CK_SLOTS).copy()
        return s


def _cuckoo_build_pdf(pdf: pd.DataFrame, n_buckets: int) -> pd.DataFrame:
    """The one cuckoo shard-build closure (fresh builds AND rebuilds — a
    single copy of the sizing rule keeps the two paths bit-compatible)."""
    shard = CuckooShard(len(pdf))
    shard.insert_many(pdf["_h2"].to_numpy())
    return pd.DataFrame(
        {
            "bucket": [int(pdf["bucket"].iloc[0])],
            "bits": [shard.to_bytes()],
            "m": [shard.m],
            "k": [_CK_SLOTS],
            "n": [len(pdf)],
            "nb": [n_buckets],
        }
    )


def build_cuckoo_shards(
    keys: DataFrame, key_col: str = "url_key", n_buckets: int = 32
) -> DataFrame:
    """Per-bucket cuckoo filters — same sharding/join pattern as Bloom, plus
    per-key deletion support (retracted captures)."""
    hashed = with_hashes(
        keys.select(key_col).dropDuplicates([key_col]), key_col, n_buckets
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        return _cuckoo_build_pdf(pdf, n_buckets)

    return hashed.groupBy("bucket").applyInPandas(build, SHARD_SCHEMA)


# build sizing gives m·SLOTS ≥ 1.3·n (load ≈ 0.77); incremental adds keep
# the same headroom — a bucket whose post-add occupancy would cross it is
# rebuilt at the next power-of-two size. 4-slot cuckoo tables stay
# insertable to ~0.95 load, so the eviction walk has margin below the
# rebuild threshold.
_CK_HEADROOM = 1.3


def update_cuckoo_shards(
    shards: DataFrame,
    new_keys: DataFrame,
    all_keys: DataFrame,
    key_col: str = "url_key",
) -> DataFrame:
    """Incremental cuckoo maintenance — the deletion-capable twin of
    ``update_bloom_shards`` (4-week-expiry crawls delete stale keys via
    ``cuckoo_delete_keys`` and re-add them on re-fetch through here;
    reference semantics: captures/__init__.py:28,163-176).

    Same scale shape as the Bloom path: rebuild decisions come from a
    METADATA join (per-bucket occupancy + add counts vs design capacity —
    no table blob touched, no double execution), adds ride ONE
    bucket-cogrouped pass as plain rows (never a collect_list array), and
    overflowing buckets are rebuilt from ``all_keys`` (that bucket only)
    through the same build closure as fresh builds.

    ``new_keys`` must be keys not currently in the filter (the crawl's
    novelty filter guarantees this); re-adding a still-present key would
    store a second fingerprint copy, and a later delete removes only one.
    """
    nb = _shard_n_buckets(shards)
    hashed = with_hashes(
        new_keys.select(key_col).dropDuplicates([key_col]), key_col, nb
    )
    counts = hashed.groupBy("bucket").agg(F.count("*").alias("n_add"))
    meta = (
        shards.select("bucket", "m", "n")
        .join(counts, on="bucket", how="full_outer")
    )
    rebuild = [
        int(r["bucket"])
        for r in meta.where(
            F.col("m").isNull()  # adds into a bucket with no shard yet
            | (
                (F.col("n") + F.coalesce(F.col("n_add"), F.lit(0)))
                * F.lit(_CK_HEADROOM)
                > F.col("m") * F.lit(_CK_SLOTS)
            )
        )
        .select("bucket")
        .collect()
    ]
    kept_shards = shards
    kept_adds = hashed.select("bucket", "_h2")
    if rebuild:
        kept_shards = kept_shards.where(~F.col("bucket").isin(rebuild))
        kept_adds = kept_adds.where(~F.col("bucket").isin(rebuild))

    def add_update(shard_pdf: pd.DataFrame, adds_pdf: pd.DataFrame):
        if not len(shard_pdf):  # adds-only bucket → handled by rebuild leg
            return pd.DataFrame(columns=[f.name for f in SHARD_SCHEMA.fields])
        r = shard_pdf.iloc[0]
        buf, m, n = r["bits"], int(r["m"]), int(r["n"])
        if len(adds_pdf):
            shard = CuckooShard.from_bytes(buf, m)
            shard.insert_many(adds_pdf["_h2"].to_numpy())
            buf, n = shard.to_bytes(), n + len(adds_pdf)
        return pd.DataFrame(
            {
                "bucket": [int(r["bucket"])],
                "bits": [buf],
                "m": [m],
                "k": [int(r["k"])],
                "n": [n],
                "nb": [int(r["nb"])],
            }
        )

    updated = (
        kept_shards.groupBy("bucket")
        .cogroup(kept_adds.groupBy("bucket"))
        .applyInPandas(add_update, SHARD_SCHEMA)
    )
    if not rebuild:
        return updated
    rb_keys = with_hashes(
        all_keys.select(key_col).dropDuplicates([key_col]), key_col, nb
    ).where(F.col("bucket").isin(rebuild))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        return _cuckoo_build_pdf(pdf, nb)

    rebuilt = rb_keys.groupBy("bucket").applyInPandas(build, SHARD_SCHEMA)
    return updated.unionByName(rebuilt)


def _cuckoo_kernel(ent: dict, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    shard = CuckooShard.from_bytes(ent["bits"], int(ent["m"]))
    return shard.contains_many(h2)


def _cuckoo_size_bytes():
    # cuckoo table is m buckets x 4 slots of 2-byte fingerprints
    return F.col("m") * F.lit(_CK_SLOTS * 2)


def cuckoo_probe(
    batch: DataFrame,
    shards: DataFrame,
    key_col: str = "url_key",
    n_buckets: int | None = None,
    broadcast_shards: bool | None = None,
    shard_size_bytes: int | None = None,
    broadcast_out: list | None = None,
) -> DataFrame:
    """Adds ``maybe_seen``; zero false negatives, same contract as Bloom.
    Layouts and auto-selection: see ``_probe_with_layout`` (a 10^10-key
    cuckoo set is ~26 GB - past the broadcast cutover). ``broadcast_out``:
    same release contract as ``bloom_probe``."""
    probed, bc = _probe_with_layout(
        batch, shards, key_col, n_buckets, broadcast_shards,
        ("bits", "m"), _cuckoo_kernel, _cuckoo_size_bytes,
        shard_size_bytes=shard_size_bytes,
    )
    if bc is not None and broadcast_out is not None:
        broadcast_out.append(bc)
    return probed


def cuckoo_delete_keys(
    shards: DataFrame,
    retracted: DataFrame,
    key_col: str = "url_key",
    n_buckets: int | None = None,
) -> DataFrame:
    """Remove retracted keys from their shards (the Bloom-impossible op);
    returns the updated shard table.

    Same cogrouped shape as ``update_bloom_shards``: deletions arrive as
    plain rows (never a collect_list array — a 10^8-key retraction wave
    would otherwise pack one giant array row per bucket) and each table
    blob crosses the Arrow boundary once per group. Retractions hitting a
    nonexistent bucket delete nothing (their group has no shard row)."""
    n_buckets = n_buckets if n_buckets is not None else _shard_n_buckets(shards)
    hashed = with_hashes(
        retracted.select(key_col).dropDuplicates([key_col]), key_col, n_buckets
    ).select("bucket", "_h2")

    def apply_deletes(shard_pdf: pd.DataFrame, dels_pdf: pd.DataFrame):
        if not len(shard_pdf):  # retraction against a bucket with no shard
            return pd.DataFrame(columns=[f.name for f in SHARD_SCHEMA.fields])
        r = shard_pdf.iloc[0]
        buf, m, n = r["bits"], int(r["m"]), int(r["n"])
        if len(dels_pdf):
            shard = CuckooShard.from_bytes(buf, m)
            deleted = shard.delete_many(dels_pdf["_h2"].to_numpy())
            # n tracks occupancy so update_cuckoo_shards' capacity decision
            # reflects reality after expiry waves (deletes free slots)
            buf, n = shard.to_bytes(), n - deleted
        return pd.DataFrame(
            {
                "bucket": [int(r["bucket"])],
                "bits": [buf],
                "m": [m],
                "k": [int(r["k"])],
                "n": [n],
                "nb": [int(r["nb"])],
            }
        )

    return (
        shards.groupBy("bucket")
        .cogroup(hashed.groupBy("bucket"))
        .applyInPandas(apply_deletes, SHARD_SCHEMA)
    )


def filtered_new(
    batch: DataFrame,
    seen: DataFrame | None,
    shards: DataFrame | None,
    key_col: str = "url_key",
    n_buckets: int | None = None,
    checkpoint: bool = True,
    broadcast_shards: bool | None = None,
    shard_size_bytes: int | None = None,
) -> DataFrame:
    """The scale path: Bloom pre-filter, exact anti-join only on maybe-seen.

    Result is provably identical to ``exact_new`` (no false negatives; false
    positives re-checked exactly). ``broadcast_shards`` passes through to
    the probe (None = auto-select by shard size — the 10^10-key cogrouped
    layout is reachable from the pipeline via this default);
    ``shard_size_bytes`` (the manifest-stashed snapshot size) skips the
    auto-select's per-construction metadata job.

    ``checkpoint=True`` (default) localCheckpoints the probed batch before
    splitting it into the definitely-new / suspect branches: both branches
    of the union would otherwise re-execute the probe AND its whole
    upstream lineage (in the crawl round: the fetch-log anti-join, scoring
    and the first-seen window). The checkpoint also lets the probe's shard
    broadcast be released immediately (one leaked shard dict per round
    would otherwise wait on GC→ContextCleaner over a 10^4-round crawl).
    Pass False only when ``batch`` is already materialized."""
    if shards is None or seen is None:
        return exact_new(batch, seen, key_col)
    bcs: list = []
    probed = bloom_probe(
        batch, shards, key_col, n_buckets, broadcast_shards,
        shard_size_bytes=shard_size_bytes, broadcast_out=bcs,
    )
    if checkpoint:
        probed = probed.localCheckpoint()
        for bc in bcs:
            bc.unpersist(blocking=False)
    definitely_new = probed.where(~F.col("maybe_seen")).drop("maybe_seen", "bucket")
    suspects = probed.where(F.col("maybe_seen")).drop("maybe_seen", "bucket")
    confirmed_new = exact_new(suspects, seen, key_col)
    return definitely_new.unionByName(confirmed_new)

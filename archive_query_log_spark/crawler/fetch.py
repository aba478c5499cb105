"""Fetcher + validator: scheduled frontier rows → fetch results
(SURVEY.md §7.1 'Fetcher/validator'; reference stages S3/S4 re-expressed).

The reference fetches from external archive APIs row-by-row behind a rate
limiter (/root/reference/archive_query_log/downloaders/warc.py:85-118). Here
the "archive" is the images table; payload validation (decode, PSNR, caption,
phash — BASELINE.json input_hint) runs in ONE Arrow-batched mapInArrow pass.

Scale design — the content-addressed fetch cache:
- Payloads are keyed by image_id (deterministic IDs, the reference's own
  identity principle, SURVEY.md §1.4), so a payload's validation verdict is a
  pure function of the payload. ``validate_images`` decodes each DISTINCT
  payload exactly once (|images| UDF rows, only payload columns cross the
  Arrow boundary), and ``fetch_and_validate`` attaches verdicts to scheduled
  fetches with a JVM-side equi-join — at 500k fetches over 50k images this is
  ~7× less Python and no struct columns serialized through Arrow.
- ``per_fetch=True`` keeps the decode-every-fetch path for parity testing
  (identical results, proven in tests).
- per-row fetch/decode errors become status columns, never task failures
  (reference's skip-and-warn semantics, captures/__init__.py:126-150).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from archive_query_log_spark.crawler import codec

VERDICT_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("fetch_status", IntegerType(), False),
        StructField("psnr_db", DoubleType(), False),
        StructField("psnr_ok", BooleanType(), False),
        StructField("caption_ok", BooleanType(), False),
        StructField("phash_ok", BooleanType(), False),
    ]
)

_PAYLOAD_COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]


def _binary_cells(arr) -> list:
    """Zero-copy memoryview per cell of an Arrow binary array (None for
    nulls): a binary column is one contiguous data buffer plus offsets, so
    slicing views beats to_pylist's per-row bytes copy (~1 KB/payload).
    zlib/struct accept any buffer object downstream."""
    import numpy as np

    bufs = arr.buffers()
    if bufs[2] is None:  # all-null column
        return [None] * len(arr)
    offs = np.frombuffer(
        bufs[1], dtype=np.int32, count=len(arr) + arr.offset + 1
    )[arr.offset :]
    mv = memoryview(bufs[2])
    if arr.null_count:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        return [
            mv[offs[i] : offs[i + 1]] if valid[i] else None
            for i in range(len(arr))
        ]
    return [mv[offs[i] : offs[i + 1]] for i in range(len(arr))]


def _payload_verdict_columns(batch):
    """(status, psnr_db, psnr_ok, caption_ok, phash_ok) numpy columns for
    one Arrow record batch carrying the payload columns — the shared body
    of both validators. Scalar payload cells leave Arrow via to_pylist
    (exact for the full-range int64 phash, where a numpy round-trip
    through float64 would corrupt high bits); the binary payload is
    sliced as zero-copy memoryviews; all per-pixel math is vectorized in
    codec.validate_rows."""
    idx = batch.schema.get_field_index
    cols = {
        name: batch.column(idx(name)).to_pylist()
        for name in ("image_id", "fmt", "caption", "phash")
    }
    # w/h leave Arrow vectorized (to_numpy floats when the left join made
    # them nullable — exact for the uint16 dims; rows with a null payload
    # return before touching them). phash stays to_pylist: a float64
    # round-trip would corrupt high int64 bits.
    ws = batch.column(idx("w")).to_numpy(zero_copy_only=False)
    hs = batch.column(idx("h")).to_numpy(zero_copy_only=False)
    bufs = _binary_cells(batch.column(idx("bytes")))
    return codec.validate_rows(
        bufs, cols["image_id"], ws, hs,
        cols["fmt"], cols["caption"], cols["phash"],
    )


def validate_images(images: DataFrame) -> DataFrame:
    """Decode + validate each payload once → (image_id, verdict columns).

    One Arrow-batched map pass: only the payload columns cross the
    boundary, image_id passes through zero-copy, and the pixel math runs
    vectorized over the whole batch (codec.validate_rows)."""

    def validate(batches):
        import pyarrow as pa

        for batch in batches:
            status, psnr_db, psnr_ok, caption_ok, phash_ok = (
                _payload_verdict_columns(batch)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("image_id")),
                    pa.array(status),
                    pa.array(psnr_db),
                    pa.array(psnr_ok),
                    pa.array(caption_ok),
                    pa.array(phash_ok),
                ],
                names=[f.name for f in VERDICT_SCHEMA.fields],
            )

    return images.select(*_PAYLOAD_COLS).mapInArrow(validate, VERDICT_SCHEMA)


def fetch_and_validate(
    scheduled: DataFrame,
    images: DataFrame,
    per_fetch: bool = False,
    broadcast_images: bool = False,
) -> DataFrame:
    """scheduled (must carry image_id) ⋈ payload verdicts.

    Returns scheduled columns + fetch_status/psnr_db/psnr_ok/caption_ok/
    phash_ok. Missing image (dead link) → fetch_status 404.

    broadcast_images: hash-join the payload table map-side. At 100 TB the
    equivalent is bucketing BOTH tables on image_id (co-located join, no
    shuffle); in-sandbox the broadcast stands in for that layout. A
    map-side join PRESERVES the incoming partitioning; since
    politeness.schedule now emits (host, score-bucket)-partitioned output
    (balanced by construction — the hot host is spread over its score
    buckets), the round-robin rebalance that used to guard against the
    hot-host straggler is an extra full shuffle with no benefit (measured
    4.4 s → 3.95 s on the 1.4M-row decode stage without it). Callers whose
    scheduled frame arrives skew- or single-partitioned should rebalance
    it upstream — probing partitioning here is not free (a
    .rdd.getNumPartitions() fallback measured 3-8 s per call because AQE
    materializes the upstream query stages to answer it).
    """
    if broadcast_images:
        images = F.broadcast(images)
    if per_fetch:
        verdicts = _per_fetch_verdicts(scheduled, images)
        return verdicts
    verdicts = validate_images(images)
    out = scheduled.join(verdicts, on="image_id", how="left")
    return (
        out.withColumn("fetch_status", F.coalesce("fetch_status", F.lit(404)))
        .withColumn("psnr_db", F.coalesce("psnr_db", F.lit(0.0)))
        .withColumn("psnr_ok", F.coalesce("psnr_ok", F.lit(False)))
        .withColumn("caption_ok", F.coalesce("caption_ok", F.lit(False)))
        .withColumn("phash_ok", F.coalesce("phash_ok", F.lit(False)))
    )


def _per_fetch_verdicts(scheduled: DataFrame, images: DataFrame) -> DataFrame:
    """Parity path: decode at every fetch row (payload joined inline, one
    Arrow-batched map over the joined rows). Same results as the cached
    path (proven in tests). Narrow `scheduled` to the columns you need
    before calling — everything it carries crosses the Arrow boundary.

    mapInArrow instead of mapInPandas: the scheduled columns pass through
    as Arrow arrays untouched (zero-copy, no pandas block construction /
    row-wise copies on either side), and the per-pixel validation math is
    one vectorized codec.validate_rows call per batch."""
    joined = scheduled.join(
        images.select(*_PAYLOAD_COLS), on="image_id", how="left"
    )
    in_fields = [
        f for f in joined.schema.fields if f.name not in _PAYLOAD_COLS[1:]
    ]
    out_schema = StructType(in_fields + list(VERDICT_SCHEMA.fields[1:]))
    keep = [f.name for f in in_fields]
    verdict_names = [f.name for f in VERDICT_SCHEMA.fields[1:]]

    def validate(batches):
        import pyarrow as pa

        for batch in batches:
            status, psnr_db, psnr_ok, caption_ok, phash_ok = (
                _payload_verdict_columns(batch)
            )
            passthrough = [
                batch.column(batch.schema.get_field_index(name))
                for name in keep
            ]
            yield pa.RecordBatch.from_arrays(
                passthrough
                + [
                    pa.array(status),
                    pa.array(psnr_db),
                    pa.array(psnr_ok),
                    pa.array(caption_ok),
                    pa.array(phash_ok),
                ],
                names=keep + verdict_names,
            )

    return joined.mapInArrow(validate, out_schema)


def validation_summary(fetches: DataFrame) -> DataFrame:
    """Wave-level validation rollup (one aggregation pass)."""
    return fetches.agg(
        F.count("*").alias("fetched"),
        F.sum(F.when(F.col("fetch_status") == 200, 1).otherwise(0)).alias("ok_200"),
        F.sum(F.when(F.col("psnr_ok"), 1).otherwise(0)).alias("psnr_ok"),
        F.sum(F.when(F.col("caption_ok"), 1).otherwise(0)).alias("caption_ok"),
        F.sum(F.when(F.col("phash_ok"), 1).otherwise(0)).alias("phash_ok"),
    )

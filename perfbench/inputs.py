"""Seeded benchmark inputs, built from the program's public ``synth.*``.

Two steps:

- ``synthesize`` (Spark, in a process of its own, only when the cache lacks
  an entry) writes the costly, seed-independent tables to the cache,
  keyed by size: the images (``synth.synth_images`` derives every image
  from its id alone) and a frontier pool twice the crawl's size, which
  also carries each row's round-1 re-capture id and timestamp, minted with
  ``functions.ids.capture_id``.
- ``derive_recrawl`` / ``derive_serp`` (pyarrow, no Spark) select the
  seed's rows on every run, before the driver's session starts: half the
  pool as the frontier, the re-captures and new URLs of round 1's capture
  batch, and the SERP documents and query terms. The selection hash is
  ``functions.ids.md5_rand``'s formula.

So a run does the same work before it is timed whatever its seed, and no
run's JVM is warmed by synthesis. A cache entry is published by renaming a
finished temporary directory, so a killed synthesis leaves no half-written
entry.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import spec
from archive_query_log_spark.crawler import synth
from archive_query_log_spark.functions.ids import capture_id

CORPUS = Path(__file__).resolve().parent.parent / (
    "archive_query_log_spark/data/warc_rule_corpus.json"
)
# Hosts whose status-200 rows are all fetched in round 0 of the recrawl
# workload: every host but the hot host h00 (its rows exceed one round's
# budget) and h04 (robots disallow its only prefix, /search).
NOT_DRAINED_IN_ROUND_0 = ("h00.example.com", "h04.example.com")
RECAPTURE_DAYS = 30
# files per written input table, as a 4-partition Spark write makes
PARTS = 4


def _publish(spark: SparkSession, target: Path, frames: dict[str, DataFrame]) -> None:
    tmp = target.parent / f".tmp-{target.name}-{uuid.uuid4().hex[:8]}"
    try:
        for name, df in frames.items():
            df.write.parquet(str(tmp / name))
        tmp.rename(target)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _pool(spark: SparkSession, size) -> DataFrame:
    """A 2n-row synthetic frontier (each seed crawls one half of it) plus,
    per row, the id and timestamp a re-capture in round 1 gets:
    RECAPTURE_DAYS later, fresh id from ``capture_id``."""
    pool = synth.synth_frontier(spark, 2 * size.n_frontier, size.n_images, 4)
    ts = F.timestamp_add("DAY", F.lit(RECAPTURE_DAYS), F.col("ts"))
    return pool.withColumn("recapture_ts", ts).withColumn(
        "recapture_id", capture_id(F.col("archive.cdx_api_url"), F.col("url"), F.col("recapture_ts"))
    )


def synthesize(spark: SparkSession, cache: Path, size) -> None:
    """Publish the crawl's missing seed-independent cache entries."""
    images = cache / spec.images_entry(size)
    if not images.exists():
        _publish(spark, images, {"images": synth.synth_images(spark, size.n_images, 4)})
    pool = cache / spec.pool_entry(size)
    if not pool.exists():
        _publish(spark, pool, {"pool": _pool(spark, size)})


# -- per-seed selection (pyarrow) ----------------------------------------------

def md5_rand(value: str, seed: int) -> float:
    """``functions.ids.md5_rand`` on a string: md5("<seed>:<value>"), first
    8 hex digits as a fraction of 2^32."""
    return int(hashlib.md5(f"{seed}:{value}".encode()).hexdigest()[:8], 16) / 4294967296.0


def _write(table: pa.Table, out: Path) -> None:
    """Write PARTS files with UTC-adjusted microsecond timestamps, which
    Spark reads as TimestampType."""
    fields = []
    for f in table.schema:
        if pa.types.is_timestamp(f.type):
            f = f.with_type(pa.timestamp("us", tz="UTC"))
        fields.append(f)
    table = table.cast(pa.schema(fields))
    out.mkdir(parents=True)
    step = -(-table.num_rows // PARTS)
    for i in range(PARTS):
        pq.write_table(table.slice(i * step, step), out / f"part-{i}.parquet")


def derive_recrawl(pool_path: Path, out: Path, seed: int) -> Path:
    """Writes to ``out`` the seed's frontier (the pool rows the seeded hash
    of the capture id puts below 0.5) and round 1's capture batch:
    re-captures of round-0 fetches (``spec.RECAPTURE_SHARE`` of the
    frontier's status-200 rows on hosts round 0 drains) and new URLs
    (``spec.NEW_SHARE`` of the rows the frontier left out)."""
    pool = pq.read_table(pool_path).replace_schema_metadata(None)
    base = [c for c in pool.column_names if not c.startswith("recapture_")]
    ids = pool.column("id").to_pylist()
    picked = pa.array([md5_rand(i, seed) < 0.5 for i in ids])
    _write(pool.filter(picked).select(base), out / "frontier")
    drained = pc.and_(
        pc.equal(pool.column("status_code"), 200),
        pc.invert(pc.is_in(pool.column("host"), pa.array(NOT_DRAINED_IN_ROUND_0))),
    )
    r = [md5_rand(i, seed * 1000 + 1) for i in ids]
    again = pc.and_(pc.and_(picked, drained), pa.array([x < spec.RECAPTURE_SHARE for x in r]))
    fresh = pc.and_(pc.invert(picked), pa.array([x < spec.NEW_SHARE for x in r]))
    recaptured = pool.filter(again)
    recaptured = recaptured.set_column(
        base.index("id"), "id", recaptured.column("recapture_id")
    ).set_column(base.index("ts"), "ts", recaptured.column("recapture_ts"))
    new_urls = pool.filter(fresh).select(base)
    batch = pa.concat_tables([recaptured.select(base).cast(new_urls.schema), new_urls])
    _write(batch, out / "batch")
    return out


def corpus_docs() -> list[dict]:
    """SERP documents with goldens: the query-rule corpus (golden
    ``warc_query``) and the result-block corpus (golden ``blocks``)."""
    doc = json.loads(CORPUS.read_text())
    rows = []
    for r in doc["warc_query"]:
        rows.append({**r, "kind": "query"})
    for r in doc["wsrb"]:
        rows.append({**r, "kind": "blocks"})
    return rows


def serp_query(seed: int, i: int) -> str:
    """The query SERP ``i``'s search URL carries, as the cascade should
    return it: a seeded term and the row number."""
    return f"{hashlib.md5(f'{seed}:q:{i}'.encode()).hexdigest()[:6]} {i}"


def derive_serp(out: Path, seed: int, n: int) -> Path:
    """Writes to ``out`` n SERP captures: a corpus document chosen by a
    seeded hash of the row number, and a synthetic search URL for that
    document's provider with a seeded query term, which the URL→query
    cascade parses."""
    docs = corpus_docs()
    rows = {k: [] for k in ("serp_id", "doc_id", "provider_id", "url", "html", "serp_url")}
    for i in range(n):
        d = docs[int(hashlib.md5(f"{seed}:doc:{i}".encode()).hexdigest()[:8], 16) % len(docs)]
        rows["serp_id"].append(f"serp{i:07d}")
        rows["doc_id"].append(d["capture_id"])
        rows["provider_id"].append(d["provider_id"])
        rows["url"].append(d["url"])
        rows["html"].append(d["html"])
        rows["serp_url"].append(
            f"https://www.h{i % 97}.example.com/search?q={serp_query(seed, i).replace(' ', '+')}&page=2"
        )
    _write(pa.table(rows), out / "serps")
    return out / "serps"

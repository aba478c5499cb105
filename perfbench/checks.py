"""Output checks. Each returns a list of problems; an empty list passes.

They read only the committed tables (crawl) or the extraction output
(SERP), run after the timed region, and use the program's public API.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archive_query_log_spark.operators import seen_set
from inputs import serp_query

def payload_ok():
    return (
        (F.col("fetch_status") == 200) & F.col("psnr_ok") & F.col("caption_ok") & F.col("phash_ok")
    )


def digest_rows(rows) -> str:
    h = hashlib.md5()
    for r in rows:
        h.update(("\x1f".join("" if v is None else str(v) for v in r) + "\n").encode())
    return h.hexdigest()


def crawl_digest(fetches: DataFrame) -> str:
    """Crawl order: md5 over (id, round, wave, dispatch_ts) sorted by id."""
    rows = fetches.select("id", "round", "wave", "dispatch_ts").orderBy("id").collect()
    return digest_rows(rows)


def check_crawl(spark: SparkSession, state, budget_waves: int) -> tuple[list[str], dict]:
    """Checks a finished crawl's committed state; returns (problems, facts)."""
    problems: list[str] = []
    fetches = state.fetches.read(spark)
    f = fetches.agg(
        F.count("*").alias("rows"),
        F.countDistinct("url_key").alias("keys"),
        F.sum(F.when(payload_ok(), 0).otherwise(1)).alias("invalid"),
    ).first()
    if f["rows"] == 0:
        problems.append("no URL was fetched")
    if f["rows"] != f["keys"]:
        problems.append(f"fetched url_keys not unique: {f['rows']} rows, {f['keys']} keys")
    if f["invalid"]:
        problems.append(f"{f['invalid']} fetched payloads failed validation")
    over = (
        fetches.groupBy("host", "round")
        .agg(F.max("wave").alias("w"), F.count("*").alias("n"))
        .where((F.col("w") >= budget_waves) | (F.col("n") > budget_waves))
        .count()
    )
    if over:
        problems.append(f"{over} (host, round) groups exceed the wave budget {budget_waves}")

    seen = state.seen_keys.read(spark).select("url_key")
    fetched_keys = fetches.select("url_key").distinct()
    n_seen = seen.count()
    extra = seen.subtract(fetched_keys).count()
    missing = fetched_keys.subtract(seen).count()
    if n_seen != f["keys"] or extra or missing:
        problems.append(
            f"seen_keys != fetched url_keys: {n_seen} seen, {f['keys']} fetched,"
            f" {extra} extra, {missing} missing"
        )
    shards = state.seen_shards.read(spark)
    false_neg = (
        seen_set.bloom_probe(seen, shards, "url_key").where(~F.col("maybe_seen")).count()
    )
    if false_neg:
        problems.append(f"{false_neg} bloom false negatives over seen_keys")
    facts = {"fetched": f["rows"], "digest": crawl_digest(fetches)}
    return problems, facts


def _blocks_view(blocks) -> list[dict] | None:
    if blocks is None:
        return None
    return [{k: b[k] for k in ("rank", "url", "title", "text")} for b in blocks]


def check_serp(out: DataFrame, docs: list[dict], seed: int) -> tuple[list[str], dict]:
    """Every query the URL→query cascade parses is the one ``derive_serp``
    wrote into that SERP's URL; every document's extraction equals its
    corpus golden (query documents: warc_query and rule; block documents:
    the blocks), and each document yields one result however often it
    repeats in the batch."""
    problems: list[str] = []
    parsed = out.where(F.col("query").isNotNull()).select("serp_id", "query").collect()
    wrong = [
        (r["serp_id"], r["query"]) for r in parsed
        if r["query"] != serp_query(seed, int(r["serp_id"][len("serp"):]))
    ]
    if not parsed:
        problems.append("the cascade parsed no query")
    if wrong:
        problems.append(f"{len(wrong)} cascade queries differ from their URL's: {wrong[:3]}")
    per_doc = (
        out.groupBy("doc_id")
        .agg(
            F.collect_set(F.struct("warc_query", "wq_rule", "blocks")).alias("r"),
        )
        .collect()
    )
    golden = {d["capture_id"]: d for d in docs}
    bad = []
    for row in per_doc:
        if len(row["r"]) != 1:
            bad.append((row["doc_id"], "non-deterministic"))
            continue
        got, want = row["r"][0], golden[row["doc_id"]]
        if want["kind"] == "query":
            if (got["warc_query"], got["wq_rule"]) != (want["warc_query"], want["wq_rule"]):
                bad.append((row["doc_id"], got["warc_query"], want["warc_query"]))
        else:
            rule = got["blocks"][0]["block_rule"] if got["blocks"] else None
            if (_blocks_view(got["blocks"]), rule) != (
                _blocks_view(want["blocks"]), want["wsrb_rule"]
            ):
                bad.append((row["doc_id"], "blocks differ"))
    if bad:
        problems.append(f"{len(bad)} documents differ from the corpus goldens: {bad[:3]}")
    counts = out.agg(
        F.count("*").alias("serps"),
        F.count("query").alias("queries"),
        F.count("warc_query").alias("warc_queries"),
        F.coalesce(F.sum(F.size("blocks")), F.lit(0)).alias("blocks"),
    ).first()
    rows = (
        out.select("serp_id", "query", "warc_query", F.to_json("blocks"))
        .orderBy("serp_id")
        .collect()
    )
    facts = dict(counts.asDict(), digest=digest_rows(rows))
    return problems, facts

"""Cascade golden tests (approval-style, like the reference's
tests/test_warc_query_parsers.py), merge semantics, export sinks, streaming."""

import tempfile
import uuid
from datetime import datetime, timezone

from pyspark.sql import functions as F

from archive_query_log_spark.operators import cascade, merge
from archive_query_log_spark.sources import export
from archive_query_log_spark.tables import SnapshotTable

# golden fixture: (provider, url) → expected (query, page); approved values
# committed here exactly like the reference's .approved.txt files
CASCADE_GOLDEN = [
    ("alpha", "https://a.example/search?q=hello+world&page=3", "hello world", 3),
    ("beta", "https://b.example/s?query=%2A%2Afoo+bar&p=x7y", "foo bar", 7),
    ("gamma", "https://c.example/find/t%C3%A9rm/4", "térm", 4),
    ("gamma", "https://c.example/other#q=frag+query", "frag query", None),
    ("delta", "https://d.example/x?search=fallback", "fallback", None),
    ("alpha", "https://a.example/search?other=1", None, None),
]


def test_cascade_golden(spark):
    df = spark.createDataFrame(
        [(p, u) for p, u, _, _ in CASCADE_GOLDEN], "provider string, url string"
    )
    out = df.select(
        "provider",
        "url",
        cascade.compile_cascade(
            cascade.FIXTURE_QUERY_RULES, F.col("url"), F.col("provider")
        ).alias("query"),
        cascade.compile_cascade(
            cascade.FIXTURE_PAGE_RULES, F.col("url"), F.col("provider"), as_int=True
        ).alias("page"),
    ).collect()
    got = {(r["provider"], r["url"]): (r["query"], r["page"]) for r in out}
    for p, u, q, pg in CASCADE_GOLDEN:
        assert got[(p, u)] == (q, pg), (p, u)


def test_cascade_array_kernel_equals_coalesce_plan(spark):
    """apply_cascade_array (the Arrow-batched kernel production runs) on the
    fixture tables — the only ones with a universal rule — agrees with the
    coalesce plan and the goldens, incl. null-url and null-provider rows
    (a null provider still gets the universal rules) and the winning rule
    index."""
    extra = [
        (None, "https://x.example/?search=no+provider", "no provider", None),
        ("alpha", None, None, None),
        (None, None, None, None),
        ("alpha", "https://a.example/?search=fb&page=2", "fb", 2),
    ]
    rows = CASCADE_GOLDEN + extra
    df = spark.createDataFrame(
        [(i, p, u) for i, (p, u, _, _) in enumerate(rows)],
        "rid long, provider string, url string",
    )
    out = cascade.apply_cascade_array(
        df, cascade.rules_to_df(spark, cascade.FIXTURE_QUERY_RULES),
        F.col("url"), F.col("provider"), out_rule_col="q_rule",
    )
    out = cascade.apply_cascade_array(
        out, cascade.rules_to_df(spark, cascade.FIXTURE_PAGE_RULES),
        F.col("url"), F.col("provider"), out_col="page", as_int=True,
    ).select(
        "rid", "query", "page", "q_rule",
        cascade.compile_cascade(
            cascade.FIXTURE_QUERY_RULES, F.col("url"), F.col("provider")
        ).alias("cq"),
        cascade.compile_cascade(
            cascade.FIXTURE_PAGE_RULES, F.col("url"), F.col("provider"),
            as_int=True,
        ).alias("cp"),
    )
    assert dict(out.dtypes)["page"] == "bigint"
    assert dict(out.dtypes)["q_rule"] == "int"
    got = {r["rid"]: r for r in out.collect()}
    for i, (_, _, q, pg) in enumerate(rows):
        r = got[i]
        assert (r["query"], r["page"]) == (q, pg) == (r["cq"], r["cp"]), (i, r)
    assert [got[i]["q_rule"] for i in range(len(rows))] == [
        0, 1, 2, 3, 4, None, 4, None, None, 4,
    ]
    # a universal rule AHEAD of a provider rule keeps its precedence once
    # merged into that provider's list
    rules = [
        cascade.UrlRule("query_param", "search"),
        cascade.UrlRule("query_param", "q", provider_id="alpha"),
    ]
    both = spark.createDataFrame(
        [("alpha", "https://a.example/?q=specific&search=universal")],
        "provider string, url string",
    )
    r = cascade.apply_cascade_array(
        both, cascade.rules_to_df(spark, rules), F.col("url"), F.col("provider"),
        out_rule_col="rule",
    ).first()
    assert (r["query"], r["rule"]) == ("universal", 0)


def test_cascade_join_plan_equals_coalesce_plan(spark):
    """apply_cascade_join (the 972-rule-scale plan) must produce exactly the
    coalesce plan's results — incl. percent decoding, fragment params,
    remove-patterns, the any-provider fallback, and no-match nulls."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, p, u) for i, (p, u, _, _) in enumerate(CASCADE_GOLDEN)],
        "rid long, provider string, url string",
    )
    a = df.select(
        "rid",
        cascade.compile_cascade(
            cascade.FIXTURE_QUERY_RULES, F.col("url"), F.col("provider")
        ).alias("query"),
    )
    rdf = cascade.rules_to_df(spark, cascade.FIXTURE_QUERY_RULES)
    b = cascade.apply_cascade_join(
        df, rdf, F.col("url"), F.col("provider"), "rid"
    ).select("rid", "query")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # int-valued cascade too
    ai = df.select(
        "rid",
        cascade.compile_cascade(
            cascade.FIXTURE_PAGE_RULES, F.col("url"), F.col("provider"),
            as_int=True,
        ).alias("page"),
    )
    rdfp = cascade.rules_to_df(spark, cascade.FIXTURE_PAGE_RULES)
    bi = cascade.apply_cascade_join(
        df, rdfp, F.col("url"), F.col("provider"), "rid", out_col="page",
        as_int=True,
    ).select("rid", "page")
    assert sorted(map(tuple, ai.collect())) == sorted(map(tuple, bi.collect()))


def test_upsert_create_if_absent(spark):
    with tempfile.TemporaryDirectory() as d:
        t = SnapshotTable(d + "/t")
        b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        merge.upsert_create_if_absent(spark, t, b1, "k")
        # replay + one new row: only the new row lands
        b2 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
        merge.upsert_create_if_absent(spark, t, b2, "k")
        rows = {(r["k"], r["v"]) for r in t.read(spark).collect()}
        assert rows == {(1, "a"), (2, "b"), (3, "c")}


def test_merge_update_flags(spark):
    with tempfile.TemporaryDirectory() as d:
        t = SnapshotTable(d + "/t")
        t.commit(
            spark.createDataFrame(
                [(1, None), (2, None)], "k long, done boolean"
            ),
            op="overwrite",
        )
        merge.merge_update(
            spark,
            t,
            spark.createDataFrame([(1, True)], "k long, done boolean"),
            "k",
            ["done"],
        )
        got = {r["k"]: r["done"] for r in t.read(spark).collect()}
        assert got == {1: True, 2: None}


def test_merge_array_union(spark):
    with tempfile.TemporaryDirectory() as d:
        t = SnapshotTable(d + "/t")
        t.commit(
            spark.createDataFrame(
                [("p1", ["a.com"]), ("p2", ["b.com"])],
                "id string, domains array<string>",
            ),
            op="overwrite",
        )
        merge.merge_array_union(
            spark,
            t,
            spark.createDataFrame(
                [("p1", ["c.com", "a.com"]), ("p3", ["d.com"])],
                "id string, domains array<string>",
            ),
            "id",
            ["domains"],
        )
        got = {r["id"]: r["domains"] for r in t.read(spark).collect()}
        assert got == {
            "p1": ["a.com", "c.com"],
            "p2": ["b.com"],
            "p3": ["d.com"],
        }


def test_export_jsonl_sample_roundtrip(spark):
    with tempfile.TemporaryDirectory() as d:
        df = spark.range(100).withColumn("v", F.col("id") * 2)
        export.export_jsonl(df, d + "/out", n_sample=10, n_blocks=2)
        back = export.read_jsonl(spark, d + "/out")
        assert back.count() == 10
        # deterministic: same sample on re-export
        export.export_jsonl(df, d + "/out2", n_sample=10, n_blocks=2)
        a = sorted(r["id"] for r in back.collect())
        b = sorted(
            r["id"] for r in export.read_jsonl(spark, d + "/out2").collect()
        )
        assert a == b


def test_legacy_record_id_matches_reference_formula(spark):
    ts = int(datetime(2023, 5, 1, tzinfo=timezone.utc).timestamp())
    url = "https://example.com/?q=1"
    df = spark.createDataFrame([(ts, url)], "timestamp long, url string")
    got = df.select(
        export.legacy_record_id(F.col("timestamp"), F.col("url")).alias("id")
    ).collect()[0]["id"]
    assert got == str(uuid.uuid5(uuid.NAMESPACE_URL, f"{ts}:{url}"))


def test_stateful_politeness_stream(spark):
    """Waves keep counting per host ACROSS micro-batches (state survives)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from archive_query_log_spark.streaming.incremental import (
        run_available_now,
        stateful_politeness_stream,
    )

    schema = StructType(
        [
            StructField("host", StringType(), False),
            StructField("url_key", StringType(), False),
        ]
    )
    with tempfile.TemporaryDirectory() as d:
        src, out, ckpt = d + "/src", d + "/out", d + "/ckpt"
        b1 = spark.createDataFrame(
            [("h1", "k1"), ("h1", "k2"), ("h2", "k3")], schema
        )
        b2 = spark.createDataFrame([("h1", "k4"), ("h2", "k5")], schema)
        b1.coalesce(1).write.mode("append").parquet(src)
        b2.coalesce(1).write.mode("append").parquet(src)
        # maxFilesPerTrigger=1 → the two files arrive as separate batches
        run_available_now(
            stateful_politeness_stream(spark, src, schema), out, ckpt
        )
        got = {
            (r["host"], r["url_key"]): (r["wave"], r["dispatch_ts"].second)
            for r in spark.read.parquet(out).collect()
        }
        h1 = sorted(w for (h, _), (w, _) in got.items() if h == "h1")
        h2 = sorted(w for (h, _), (w, _) in got.items() if h == "h2")
        assert h1 == [0, 1, 2] and h2 == [0, 1]
        # dispatch spacing = wave · 10 s
        for (_, _), (w, sec) in got.items():
            assert sec == (w * 10) % 60


def test_streaming_available_now_dedup(spark):
    from archive_query_log_spark.streaming.incremental import (
        run_available_now,
        stream_new_urls,
    )

    with tempfile.TemporaryDirectory() as d:
        src, out, ckpt = d + "/src", d + "/out", d + "/ckpt"
        df = spark.createDataFrame(
            [
                ("k1", datetime(2024, 1, 1, 0, 0, 0), "u1"),
                ("k1", datetime(2024, 1, 2, 0, 0, 0), "u1b"),
                ("k2", datetime(2024, 1, 1, 0, 0, 0), "u2"),
            ],
            "url_key string, ts timestamp, url string",
        )
        df.write.parquet(src)
        deduped = stream_new_urls(spark, src, df.schema)
        run_available_now(deduped, out, ckpt)
        got = spark.read.parquet(out)
        assert got.count() == 2
        assert got.select("url_key").distinct().count() == 2
        # second drain: nothing new, exactly-once on files
        run_available_now(stream_new_urls(spark, src, df.schema), out, ckpt)
        assert spark.read.parquet(out).count() == 2


def test_dry_run_sinks_write_nothing(spark, tmp_path):
    """S15: dry-run runs the plan, reports would-write counts, writes zero
    bytes (reference config.py:75-107 bulk dry_run)."""
    from archive_query_log_spark.sources.export import export_jsonl
    from archive_query_log_spark.tables import SnapshotTable

    df = spark.range(100).withColumnRenamed("id", "k")
    out = tmp_path / "export"
    report = export_jsonl(df, str(out), n_blocks=4, dry_run=True)
    assert report["would_write_rows"] == 100 and report["n_blocks"] == 4
    assert not out.exists()

    t = SnapshotTable(tmp_path / "tbl")
    would_be = t.commit(df, dry_run=True)
    assert would_be == 0 and not t.exists()
    # real commit then a dry-run update on top: version untouched
    t.commit(df)
    assert t.commit(df, op="overwrite", dry_run=True) == 1
    assert t.latest_version() == 0 and t.read(spark).count() == 100


def test_streaming_dedup_state_evicts_at_watermark(spark):
    """dropDuplicatesWithinWatermark semantics (the round-1 review fix): a
    key's dedup state is EVICTED once the watermark passes its window — a
    re-capture far outside the 28-day window is re-admitted, and state does
    not grow unboundedly (plain dropDuplicates([key]) would hold every key
    forever and emit k1 only once here)."""
    from archive_query_log_spark.streaming.incremental import (
        run_available_now,
        stream_new_urls,
    )

    with tempfile.TemporaryDirectory() as d:
        src, out, ckpt = d + "/src", d + "/out", d + "/ckpt"
        schema = "url_key string, ts timestamp, url string"
        batches = [
            [("k1", datetime(2024, 1, 1), "u1")],
            # advances the watermark to ~Jun 2024, far past k1's window
            [("k9", datetime(2024, 7, 1), "u9")],
            # eviction is applied at batch boundaries: this batch runs with
            # the advanced watermark and drops k1's expired state
            [("k8", datetime(2024, 7, 1), "u8")],
            # k1 again, 6 months later: state was evicted → re-admitted
            [("k1", datetime(2024, 7, 2), "u1-again")],
        ]
        import time as _time

        for b in batches:
            spark.createDataFrame(b, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            _time.sleep(1.2)  # distinct mod-times → deterministic file order
        deduped = stream_new_urls(
            spark,
            src,
            spark.createDataFrame([], schema).schema,
            max_files_per_trigger=1,
        )
        run_available_now(deduped, out, ckpt)
        got = spark.read.parquet(out)
        assert got.count() == 4
        assert got.where("url_key = 'k1'").count() == 2

"""Parity goldens: the Spark cascade over the reference's REAL rule tables
(972 url→query + 425 url→page + 66 url→offset rules) must reproduce the
reference parser's output on a 4,100-URL corpus.

The corpus + expected values in archive_query_log_spark/data/rule_corpus.json
were minted by tools/make_rule_corpus.py: URLs synthesized per rule (messy
variants included: encoded keys, '+', %XX unicode, bad escapes, blank and
duplicate params), expectations computed by tools/reference_rule_oracle.py —
a line-faithful re-execution of the reference cascade
(parsers/url_query.py:49-126, parsers/utils/url.py:5-27,
parsers/utils/__init__.py:5-33).

Three reference rules are provably unreachable in the reference itself and
are therefore expected to never win (asserted below):
- url_query #833: url_pattern '^https?l://...' — scheme typo; pydantic
  HttpUrl never stores an 'httpsl' URL.
- url_offset #56: pattern '...search#q' puts '#q' immediately after the
  path, so a matching URL cannot carry a '?first=...' query string — but the
  rule reads query param 'first'.
- url_page #231: every URL matching its url_pattern leaves a non-numeric
  '.html' residue after its remove_pattern, so clean_int is always None.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from archive_query_log_spark.operators.cascade import (
    apply_cascade_array,
    apply_cascade_join,
    compile_cascade,
)
from archive_query_log_spark.operators.rule_tables import (
    reference_rules,
    reference_rules_df,
)

DATA = Path(__file__).resolve().parent.parent / "archive_query_log_spark/data"

DEAD_RULES = {"url_query": {833}, "url_page": {231}, "url_offset": {56}}


@pytest.fixture(scope="module")
def corpus():
    return json.loads((DATA / "rule_corpus.json").read_text())


@pytest.fixture(scope="module")
def corpus_df(spark, corpus):
    rows = [
        (r["capture_id"], r["provider_id"], r["url"]) for r in corpus["rows"]
    ]
    return spark.createDataFrame(
        rows, "capture_id string, provider_id string, url string"
    ).repartition(8)


def _run_cascade(spark, corpus_df, table, as_int):
    out = apply_cascade_join(
        corpus_df,
        reference_rules_df(spark, table),
        url=F.col("url"),
        provider=F.col("provider_id"),
        id_col="capture_id",
        out_col="value",
        as_int=as_int,
        out_rule_col="rule",
    )
    return {
        r["capture_id"]: (r["value"], r["rule"])
        for r in out.select("capture_id", "value", "rule").collect()
    }


@pytest.mark.parametrize(
    "table,field,rule_field,as_int",
    [
        ("url_query", "url_query", "q_rule", False),
        ("url_page", "url_page", "p_rule", True),
        ("url_offset", "url_offset", "o_rule", True),
    ],
)
def test_cascade_matches_reference(spark, corpus, corpus_df, table, field,
                                   rule_field, as_int):
    got = _run_cascade(spark, corpus_df, table, as_int)
    mismatches = []
    for r in corpus["rows"]:
        exp = (r[field], r[rule_field])
        if got[r["capture_id"]] != exp:
            mismatches.append((r["url"], r["provider_id"], exp,
                               got[r["capture_id"]]))
    assert not mismatches, (
        f"{len(mismatches)} mismatches vs reference parses; first 10:\n"
        + "\n".join(repr(m) for m in mismatches[:10])
    )


@pytest.mark.parametrize(
    "table,field,rule_field,as_int",
    [
        ("url_query", "url_query", "q_rule", False),
        ("url_page", "url_page", "p_rule", True),
        ("url_offset", "url_offset", "o_rule", True),
    ],
)
def test_array_plan_matches_reference(spark, corpus, corpus_df, table, field,
                                      rule_field, as_int):
    """The Arrow-batched cascade kernel (per-provider rule lists in one
    Python UDF) reproduces the reference parses too — same gate as the
    join plan."""
    out = apply_cascade_array(
        corpus_df,
        reference_rules_df(spark, table),
        url=F.col("url"),
        provider=F.col("provider_id"),
        out_col="value",
        as_int=as_int,
        out_rule_col="rule",
    )
    got = {
        r["capture_id"]: (r["value"], r["rule"])
        for r in out.select("capture_id", "value", "rule").collect()
    }
    bad = [
        (r["url"], got[r["capture_id"]], (r[field], r[rule_field]))
        for r in corpus["rows"]
        if got[r["capture_id"]] != (r[field], r[rule_field])
    ]
    assert not bad, f"{len(bad)} mismatches; first 5: {bad[:5]}"


def _denormalize(url: str, mode: int) -> str:
    """Mint a raw (un-normalized) variant whose HttpUrl normalization is
    exactly `url` — what a crawler frontier would actually carry."""
    scheme, _, rest = url.partition("://")
    if "@" in rest.split("/", 1)[0]:
        userinfo, rest = rest.split("@", 1)
        userinfo += "@"
    else:
        userinfo = ""
    for i, ch in enumerate(rest):
        if ch in "/?#":
            host, tail = rest[:i], rest[i:]
            break
    else:
        host, tail = rest, ""
    if mode % 2 == 0:
        host = host.upper()
        scheme = scheme.upper()
    if mode % 3 == 0 and ":" not in host:
        host += ":443" if scheme.lower() == "https" else ":80"
    if tail.startswith("/") and (len(tail) == 1 or tail[1] in "?#"):
        tail = tail[1:]  # default '/' path made implicit
    return f"{scheme}://{userinfo}{host}{tail}"


def test_cascade_on_raw_urls_via_normalization(spark, corpus, corpus_df):
    """The reference cascades match against pydantic's
    HttpUrl.encoded_string(), not the raw URL — a raw
    'https://Google.com?q=x' must still hit anchored patterns. Gate:
    normalize_http_url() over de-normalized (raw) corpus variants
    reproduces the stored normalized URL bit-for-bit (pydantic re-checked
    in-test), and the url_query cascade over the normalized column yields
    the reference goldens."""
    from pydantic import HttpUrl

    from archive_query_log_spark.functions.urls import normalize_http_url

    raws = []
    for i, r in enumerate(corpus["rows"]):
        raw = _denormalize(r["url"], i)
        # true oracle: pydantic agrees the raw variant normalizes back
        assert HttpUrl(raw).encoded_string() == r["url"], (raw, r["url"])
        raws.append((r["capture_id"], r["provider_id"], raw))
    raw_df = spark.createDataFrame(
        raws, "capture_id string, provider_id string, raw_url string"
    ).repartition(8)
    norm = raw_df.select(
        "capture_id",
        "provider_id",
        normalize_http_url("raw_url").alias("url"),
    )
    stored = {r["capture_id"]: r["url"] for r in corpus["rows"]}
    bad_norm = [
        (r["capture_id"], r["url"], stored[r["capture_id"]])
        for r in norm.collect()
        if r["url"] != stored[r["capture_id"]]
    ]
    assert not bad_norm, f"{len(bad_norm)} normalization diffs: {bad_norm[:5]}"
    got = _run_cascade(spark, norm, "url_query", as_int=False)
    bad = [
        (r["url"], got[r["capture_id"]], (r["url_query"], r["q_rule"]))
        for r in corpus["rows"]
        if got[r["capture_id"]] != (r["url_query"], r["q_rule"])
    ]
    assert not bad, f"{len(bad)} cascade mismatches on raw input: {bad[:5]}"


def test_array_plan_zero_data_side_exchanges(spark, corpus_df):
    """Plan audit: apply_cascade_array is scan → project (ArrowEvalPython)
    → project. The rule table is collected on the driver, so the executed
    plan has no exchange and no join on either side."""
    out = apply_cascade_array(
        corpus_df.localCheckpoint(),  # cut the repartition lineage
        reference_rules_df(spark, "url_query"),
        url=F.col("url"),
        provider=F.col("provider_id"),
        out_col="value",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan and "Broadcast" not in plan, plan


def test_corpus_coverage(corpus):
    """Every reachable reference rule wins at least once; dead rules never."""
    rows = corpus["rows"]
    assert len(rows) >= 1000
    for table, rule_field in (
        ("url_query", "q_rule"),
        ("url_page", "p_rule"),
        ("url_offset", "o_rule"),
    ):
        total = json.loads((DATA / f"{table}_rules.json").read_text())["n_rules"]
        winners = {r[rule_field] for r in rows if r[rule_field] is not None}
        dead = DEAD_RULES[table]
        assert winners.isdisjoint(dead), f"{table}: dead rule won?!"
        assert len(winners) == total - len(dead), (
            f"{table}: {len(winners)} of {total} rules won "
            f"(expected all but dead {sorted(dead)})"
        )


def test_compile_cascade_equals_join_plan_on_reference_rules(
    spark, corpus, corpus_df
):
    """The unrolled-coalesce plan and the broadcast-join plan agree on real
    reference rules (per-provider subsets keep the coalesce tree small)."""
    rows = corpus["rows"]
    providers = sorted({r["provider_id"] for r in rows})[:8]
    sub_rows = [r for r in rows if r["provider_id"] in providers]
    sub_df = corpus_df.where(F.col("provider_id").isin(providers))
    rules = [
        u
        for p in providers
        for u in reference_rules("url_query", provider_id=p)
    ]
    compiled = {
        r["capture_id"]: r["v"]
        for r in sub_df.select(
            "capture_id",
            compile_cascade(
                rules, F.col("url"), provider=F.col("provider_id")
            ).alias("v"),
        ).collect()
    }
    assert len(compiled) == len(sub_rows) > 20
    for r in sub_rows:
        assert compiled[r["capture_id"]] == r["url_query"], (
            r["url"],
            r["url_query"],
            compiled[r["capture_id"]],
        )

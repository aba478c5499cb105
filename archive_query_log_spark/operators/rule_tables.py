"""Loaders for the reference's REAL URL parser-rule tables (972 url→query,
425 url→page, 66 url→offset rules).

The JSON files under ``archive_query_log_spark/data/`` are declarative rule
DATA extracted verbatim from the reference's public, MIT-licensed tables
(/root/reference/archive_query_log/parsers/url_query.py:216-5916,
url_page.py:60-2711, url_offset.py:60-571) by
``tools/extract_reference_rules.py``. This module turns them into

- a rules DataFrame for
  :func:`archive_query_log_spark.operators.cascade.apply_cascade_array`
  (the production plan: the table is collected once and runs as one
  Arrow-batched Python kernel; per-row cost = rules-per-provider), and
- ``UrlRule`` lists for :func:`compile_cascade` (the unrolled-coalesce plan,
  useful for small per-provider subsets).

Match-semantics shim: the reference applies ``url_pattern`` with
``re.match`` (anchored at position 0, url_query.py:54-58); ``re.search``
(the apply_cascade_array kernel), Spark ``rlike`` and DuckDB
``regexp_matches`` are find-anywhere, so every pattern is wrapped
as ``^(?:...)`` here (wrapping, not just prefixing, keeps top-level
alternations anchored).

Input-normalization precondition: the reference matches against
``capture.url.encoded_string()`` — pydantic's WHATWG-normalized form
(lowercased/punycoded host, default '/' path, default port stripped), NOT
the raw URL (url_query.py:56). Feed raw frontier URLs through
``functions.urls.normalize_http_url`` (pure columns; ASCII hosts) or
``normalize_http_url_udf`` (pydantic-exact) before apply_cascade_*, or an
anchored pattern the reference would match can miss
(e.g. ``https://Google.com?q=x``). Raw-variant parity gate:
tests/test_reference_rules.py::test_cascade_on_raw_urls_via_normalization.
"""

from __future__ import annotations

import json
from functools import lru_cache
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archive_query_log_spark.operators.cascade import UrlRule

DATA_DIR = Path(__file__).resolve().parent.parent / "data"

RULE_TABLES = ("url_query", "url_page", "url_offset")

RULES_DF_SCHEMA = (
    "rule_order int, rule_type string, argument string, provider_id string,"
    " url_pattern string, remove_pattern string, space_pattern string"
)


def local_json_df(
    spark: SparkSession, records: list[dict], schema_ddl: str
) -> DataFrame:
    """Small local table → DataFrame WITHOUT the Python-RDD path.

    ``spark.createDataFrame(rows)`` routes through
    ``applySchemaToPythonRDD``: every action that re-materializes the frame
    (each broadcast rebuild, every bench window) launches Python worker
    tasks just to re-pickle constant rows. Shipping the rows as ONE JSON
    literal parsed JVM-side (``from_json`` + ``inline``) makes the rebuild
    a single in-JVM task — measured 0.13 s → 0.06 s per j1 broadcast
    rebuild at local[32] (guide §4: eliminate the Python boundary; the
    data is constant, only the boundary was being paid for).

    Supported field types: the JSON-representable subset (strings, ints,
    doubles, booleans, arrays/structs thereof) — enough for every rule /
    provider dim here. Null fields round-trip as JSON null.
    """
    payload = json.dumps(records)
    return spark.range(1).select(
        F.inline(F.from_json(F.lit(payload), f"array<struct<{schema_ddl}>>"))
    )


def match_anchored(pattern: str | None) -> str | None:
    """re.match semantics for a find-anywhere regex engine."""
    if pattern is None:
        return None
    return "^(?:" + pattern + ")"


@lru_cache(maxsize=None)
def load_rule_rows(table: str) -> tuple[dict, ...]:
    """Raw rule rows (verbatim reference data) for one of RULE_TABLES."""
    doc = json.loads((DATA_DIR / f"{table}_rules.json").read_text())
    return tuple(doc["rules"])


def reference_rules_df(spark: SparkSession, table: str) -> DataFrame:
    """Rule table as a (tiny) DataFrame with url_pattern wrapped for
    find-anywhere engines — feed straight to apply_cascade_array (or
    apply_cascade_join).
    """
    records = [
        {
            "rule_order": r["rule_order"],
            "rule_type": r["rule_type"],
            "argument": r["argument"],
            "provider_id": r["provider_id"],
            "url_pattern": match_anchored(r["url_pattern"]),
            "remove_pattern": r["remove_pattern"],
            "space_pattern": r["space_pattern"],
        }
        for r in load_rule_rows(table)
    ]
    return local_json_df(spark, records, RULES_DF_SCHEMA)


PROVIDERS_DF_SCHEMA = (
    "provider_id string, name string, priority int,"
    " domains array<string>, url_path_prefixes array<string>,"
    " exclusion_reason string"
)


@lru_cache(maxsize=None)
def load_provider_rows() -> tuple[dict, ...]:
    """The reference's REAL provider dimension (775 providers from
    data/selected-services.yaml via imports/yaml.py:103-160 semantics,
    provider UUIDs signature-verified against the url_query rule table —
    see tools/extract_reference_providers.py)."""
    doc = json.loads((DATA_DIR / "providers.json").read_text())
    return tuple(doc["providers"])


def reference_providers_df(spark: SparkSession) -> DataFrame:
    """Provider dim as a (tiny, broadcastable) DataFrame shaped for
    crawler/sources_build.py:build_sources (id, priority, domains,
    url_path_prefixes, exclusion_reason)."""
    records = [
        {
            "provider_id": p["provider_id"],
            "name": p["name"],
            "priority": p["priority"],
            "domains": p["domains"],
            "url_path_prefixes": p["url_path_prefixes"],
            "exclusion_reason": p["exclusion_reason"],
        }
        for p in load_provider_rows()
    ]
    # JVM-side JSON literal, not parallelize(): every broadcast rebuild of
    # this dim used to launch a Python worker round trip (one slice was the
    # round-7 fix: 0.23 s → 0.13 s; the JSON literal removes the Python
    # boundary entirely: → ~0.06 s per rebuild)
    return local_json_df(spark, records, PROVIDERS_DF_SCHEMA)


def reference_rules(table: str, provider_id: str | None = None) -> list[UrlRule]:
    """Rule list for compile_cascade, optionally filtered to one provider."""
    out = []
    for r in load_rule_rows(table):
        if provider_id is not None and r["provider_id"] != provider_id:
            continue
        out.append(
            UrlRule(
                rule_type=r["rule_type"],
                argument=(
                    int(r["argument"])
                    if r["rule_type"] == "path_segment"
                    else r["argument"]
                ),
                provider_id=r["provider_id"],
                url_pattern=match_anchored(r["url_pattern"]),
                remove_pattern=r["remove_pattern"],
                space_pattern=r["space_pattern"],
            )
        )
    return out

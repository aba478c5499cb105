"""Data-driven URL parser cascades (SURVEY.md §2.9).

Reference semantics: an ORDERED rule table; per row the first rule that is
(a) applicable — provider matches and URL pattern matches — and (b) whose
parse returns non-null, wins; no-match still yields a progress update
(/root/reference/archive_query_log/parsers/url_query.py:49-59 applicability,
:107-174 cascade; same pattern in url_page.py / url_offset.py).

The rule table is DATA. The one plan, ``apply_cascade_array``, collects it
once on the driver and runs the whole cascade as ONE Arrow-batched Python
UDF that executes the reference's own per-row loop (``re`` patterns,
``urlsplit`` + ``parse_qsl`` / ``unquote``, clean_text / clean_int) over
only the url and provider columns: a map-only scan → project plan with no
join and no exchange. The output is the reference parser's, not a
re-expression of it in Catalyst; tests/test_cascade_kernel.py pins it
against tools/reference_rule_oracle.py. Rules here are OUR OWN fixtures; the
reference's rule tables are data files a deployment would import, not code
to copy (see ``rule_tables``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache
from urllib.parse import parse_qsl, unquote, urlsplit

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class UrlRule:
    """One parser rule (mirrors the reference's QueryParser model fields,
    parsers/url_query.py:65-104)."""

    rule_type: str  # 'query_param' | 'fragment_param' | 'path_segment'
    argument: str | int
    provider_id: str | None = None  # None = applicable to any provider
    url_pattern: str | None = None  # regex; None = applicable to any URL
    remove_pattern: str | None = None
    space_pattern: str | None = None


_RULE_FIELDS = (
    "rule_order", "rule_type", "argument", "url_pattern",
    "remove_pattern", "space_pattern",
)

_INT64_MIN, _INT64_MAX = -(1 << 63), (1 << 63) - 1


@lru_cache(maxsize=4096)
def _regex(pattern: str) -> re.Pattern:
    """Compiled rule regex, cached per Python worker process (the kernel's
    closure is unpickled per task; the compiled patterns outlive it). The
    bound is a few times the largest rule table."""
    return re.compile(pattern)


def _qsl_first(qs: str, parameter: str) -> str | None:
    for key, value in parse_qsl(qs):
        if key == parameter:
            return value
    return None


def _clean_text(
    text: str, remove_pattern: str | None, space_pattern: str | None
) -> str | None:
    """parsers/utils/__init__.py:5-18 (clean_text), verbatim semantics."""
    if remove_pattern is not None:
        text = _regex(remove_pattern).sub("", text)
    if space_pattern is not None:
        text = _regex(space_pattern).sub(" ", text)
    text = " ".join(text.strip().split())
    return text or None


def _clean_int(text: str, remove_pattern: str | None) -> int | None:
    """parsers/utils/__init__.py:21-33 (clean_int), verbatim semantics —
    except that a value outside bigint range counts as no parse (the
    output column is bigint)."""
    if remove_pattern is not None:
        text = _regex(remove_pattern).sub("", text)
    try:
        value = int(text.strip())
    except ValueError:
        return None
    return value if _INT64_MIN <= value <= _INT64_MAX else None


def _first_hit(rules: tuple, url: str, as_int: bool):
    """The reference's first-match loop (url_query.py:118-126) for one URL:
    (value, rule_order) of the first applicable rule whose cleaned parse is
    non-null, else None. The URL is split at most once, and only when some
    rule's pattern applies."""
    parts = None
    for order, rule_type, arg, url_pattern, remove_pattern, space_pattern in rules:
        if url_pattern is not None and _regex(url_pattern).search(url) is None:
            continue
        if parts is None:
            try:
                parts = urlsplit(url)
            except ValueError:  # e.g. an unbalanced IPv6 bracket
                return None
        if rule_type == "query_param":
            raw = _qsl_first(parts.query, arg)
        elif rule_type == "fragment_param":
            raw = _qsl_first(parts.fragment, arg)
        else:  # path_segment
            segments = parts.path.split("/")
            raw = unquote(segments[arg]) if len(segments) > arg else None
        if raw is None:
            continue
        value = (
            _clean_int(raw, remove_pattern)
            if as_int
            else _clean_text(raw, remove_pattern, space_pattern)
        )
        if value is not None:
            return value, order
    return None


def _cascade_batch(
    urls: pa.Array, providers: pa.Array, by_provider: dict, universal: tuple,
    as_int: bool,
) -> pa.Array:
    """One Arrow batch through the cascade → struct<v, o>."""
    values, orders = [], []
    for url, provider in zip(urls.to_pylist(), providers.to_pylist()):
        hit = None
        if url is not None:
            hit = _first_hit(by_provider.get(provider, universal), url, as_int)
        values.append(None if hit is None else hit[0])
        orders.append(None if hit is None else hit[1])
    return pa.StructArray.from_arrays(
        [
            pa.array(values, type=pa.int64() if as_int else pa.string()),
            pa.array(orders, type=pa.int32()),
        ],
        names=["v", "o"],
    )


def _compile_rule_lists(rules_df) -> tuple[dict, tuple]:
    """Collect the rule table once and compile it into per-provider rule
    tuples in rule_order, universal (null-provider) rules merged into every
    provider's list. The universal list alone serves unknown and null
    providers."""
    rows = sorted(
        rules_df.select("provider_id", *_RULE_FIELDS).collect(),
        key=lambda r: r["rule_order"],
    )
    by_provider: dict[str | None, list] = {}
    for r in rows:
        if r["rule_type"] not in ("query_param", "fragment_param", "path_segment"):
            raise ValueError(r["rule_type"])
        arg = int(r["argument"]) if r["rule_type"] == "path_segment" else r["argument"]
        by_provider.setdefault(r["provider_id"], []).append(
            (
                r["rule_order"], r["rule_type"], arg, r["url_pattern"],
                r["remove_pattern"], r["space_pattern"],
            )
        )
    universal = by_provider.pop(None, [])
    merged = {
        p: tuple(sorted(rules + universal, key=lambda rule: rule[0]))
        for p, rules in by_provider.items()
    }
    return merged, tuple(universal)


def apply_cascade_array(
    df,
    rules_df,
    url: Column,
    provider: Column,
    out_col: str = "query",
    as_int: bool = False,
    out_rule_col: str | None = None,
):
    """The whole first-match cascade as ONE Arrow-batched Python UDF.

    ``rules_df`` (rule_order, rule_type, argument, provider_id, url_pattern,
    remove_pattern, space_pattern; url_pattern is find-anywhere, see
    ``rule_tables.match_anchored``) is collected once on the driver and
    compiled into per-provider rule lists that ride in the UDF's closure.
    Per row the kernel runs the reference's own loop — ``re.search`` on
    url_pattern, ``urlsplit`` + ``parse_qsl`` / ``unquote`` extraction,
    clean_text / clean_int — so the output is the reference parser's, not a
    re-expression of it in Catalyst. A URL ``urlsplit`` rejects yields no
    parse. Only the url and provider columns cross into Python; the plan is
    scan → project (ArrowEvalPython) → project, with no join and no
    exchange. Input URLs must already be pydantic-normalized (see
    rule_tables). Adds ``out_col`` (string, or bigint with ``as_int``) and,
    if given, ``out_rule_col`` (int: the winning rule_order, null when no
    rule parsed)."""
    by_provider, universal = _compile_rule_lists(rules_df)

    def cascade_batch(urls: pa.Array, providers: pa.Array) -> pa.Array:
        return _cascade_batch(urls, providers, by_provider, universal, as_int)

    kernel = F.arrow_udf(
        cascade_batch, f"struct<v:{'bigint' if as_int else 'string'},o:int>"
    )
    out = df.withColumn("_cacc", kernel(url.cast("string"), provider.cast("string")))
    out = out.withColumn(out_col, F.col("_cacc.v"))
    if out_rule_col is not None:
        out = out.withColumn(out_rule_col, F.col("_cacc.o"))
    return out.drop("_cacc")


# our own fixture rule tables (shape-parity with the reference's url_query /
# url_page / url_offset tables; NOT copies of its 972-rule data file)
FIXTURE_QUERY_RULES = [
    UrlRule("query_param", "q", provider_id="alpha"),
    UrlRule(
        "query_param",
        "query",
        provider_id="beta",
        remove_pattern=r"^\*+",
    ),
    UrlRule("path_segment", 2, provider_id="gamma", url_pattern=r"/find/"),
    UrlRule("fragment_param", "q", provider_id="gamma"),
    UrlRule("query_param", "search"),  # any-provider fallback
]

FIXTURE_PAGE_RULES = [
    UrlRule("query_param", "page", provider_id="alpha"),
    UrlRule("query_param", "p", provider_id="beta", remove_pattern=r"[^0-9]"),
    UrlRule("path_segment", 3, provider_id="gamma", url_pattern=r"/find/"),
]

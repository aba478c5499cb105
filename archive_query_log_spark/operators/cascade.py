"""Data-driven URL parser cascades (SURVEY.md §2.9).

Reference semantics: an ORDERED rule table; per row the first rule that is
(a) applicable — provider matches and URL pattern matches — and (b) whose
parse returns non-null, wins; no-match still yields a progress update
(/root/reference/archive_query_log/parsers/url_query.py:49-59 applicability,
:107-174 cascade; same pattern in url_page.py / url_offset.py).

The rule table is DATA. The production plan, ``apply_cascade_array``,
collects it once on the driver and runs the whole cascade as ONE
Arrow-batched Python UDF that executes the reference's own per-row loop
(``re`` patterns, ``urlsplit`` + ``parse_qsl`` / ``unquote``,
clean_text / clean_int) over only the url and provider columns: a map-only
scan → project plan with no join and no exchange. Re-expressing the same
loop in Catalyst (a higher-order-function fold with a percent-decoder and
``parse_qsl`` built from hundreds of regex expressions) spent most of its
time planning and ran uncompiled; the Python kernel is both faster and
exact by construction. ``compile_cascade`` (an unrolled ``coalesce`` of
per-rule ``when(applicable, extract)`` column expressions, for small rule
lists) and ``apply_cascade_join`` (the hits relation) are the column-
expression plans. Rules here are OUR OWN fixtures; the reference's rule
tables are data files a deployment would import, not code to copy.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache
from urllib.parse import parse_qsl, unquote, urlsplit

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

from archive_query_log_spark.functions import text as T
from archive_query_log_spark.functions import urls as U


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


def _extract(rule: UrlRule, url: Column) -> Column:
    if rule.rule_type == "query_param":
        return U.parse_url_query_parameter(str(rule.argument), url)
    if rule.rule_type == "fragment_param":
        return U.parse_url_fragment_parameter(str(rule.argument), url)
    if rule.rule_type == "path_segment":
        return U.parse_url_path_segment(int(rule.argument), url)
    raise ValueError(rule.rule_type)


def compile_cascade(
    rules: list[UrlRule],
    url: Column,
    provider: Column | None = None,
    as_int: bool = False,
) -> Column:
    """Rule table → one coalesce(when(applicable, cleaned_extract), ...).

    First applicable rule whose parse yields non-null wins — exactly the
    reference's loop, minus the loop.
    """
    branches: list[Column] = []
    for r in rules:
        applicable = F.lit(True)
        if r.provider_id is not None and provider is not None:
            applicable = applicable & (provider == r.provider_id)
        if r.url_pattern is not None:
            applicable = applicable & url.rlike(r.url_pattern)
        raw = _extract(r, url)
        val = (
            T.clean_int(raw, r.remove_pattern)
            if as_int
            else T.clean_text(raw, r.remove_pattern, r.space_pattern)
        )
        branches.append(F.when(applicable, val))
    if not branches:
        return F.lit(None).cast("bigint" if as_int else "string")
    return F.coalesce(*branches)


def rules_to_df(spark, rules: list[UrlRule]):
    """Rule table as data (rule_order = cascade precedence)."""
    rows = [
        (
            i,
            r.rule_type,
            str(r.argument),
            r.provider_id,
            r.url_pattern,
            r.remove_pattern,
            r.space_pattern,
        )
        for i, r in enumerate(rules)
    ]
    return spark.createDataFrame(
        rows,
        "rule_order int, rule_type string, argument string, provider_id string,"
        " url_pattern string, remove_pattern string, space_pattern string",
    )


def _extract_dynamic(url: Column, rule_type: Column, arg: Column) -> Column:
    """One 3-branch extraction expression over DYNAMIC rule columns or
    struct fields — the key to both scale plans: the expression count stays
    constant no matter how many rules exist."""
    url = U.lenient_url(url)  # same malformed-escape leniency as compile_cascade
    qp = U.parse_qsl_first(F.try_parse_url(url, F.lit("QUERY")), arg)
    fp = U.parse_qsl_first(F.try_parse_url(url, F.lit("REF")), arg)
    seg = U.percent_decode(
        F.try_element_at(
            F.split(F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit("")), "/"),
            arg.cast("int") + 1,
        )
    )
    return (
        F.when(rule_type == "query_param", qp)
        .when(rule_type == "fragment_param", fp)
        .when(rule_type == "path_segment", seg)
    )


def _clean_dynamic(
    raw: Column, remove_pattern: Column, space_pattern: Column, as_int: bool
) -> Column:
    """Dynamic clean_text/clean_int: pattern columns instead of literals
    (guarded — regexp_replace with a NULL pattern column returns null)."""
    cleaned = F.when(
        remove_pattern.isNotNull(),
        F.regexp_replace(raw, remove_pattern, F.lit("")),
    ).otherwise(raw)
    if as_int:
        # clean_int semantics exactly (parsers/utils/__init__.py:21-33 and
        # functions.text.clean_int): remove_pattern → trim → try_cast. No
        # space_pattern substitution and no whitespace collapse — clean_int
        # takes no space_pattern, so an int rule carrying one must behave
        # identically in every cascade plan.
        return F.trim(cleaned).try_cast("long")
    cleaned = F.when(
        space_pattern.isNotNull(),
        F.regexp_replace(cleaned, space_pattern, F.lit(" ")),
    ).otherwise(cleaned)
    # (?U)\s+ then trim: unicode-exact twin of clean_text (see text.py)
    return F.nullif(F.trim(F.regexp_replace(cleaned, r"(?U)\s+", " ")), F.lit(""))


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


def apply_cascade_join(
    df,
    rules_df,
    url: Column,
    provider: Column,
    id_col: str,
    out_col: str = "query",
    as_int: bool = False,
    out_rule_col: str | None = None,
):
    """The materialized-hits plan for large rule tables: broadcast the rule
    TABLE, equi-join provider-specific rules on provider_id (fan-out =
    rules-per-provider, typically 1-3), cross-join the few universal rules,
    evaluate ONE generic extraction expression, and keep the first (lowest
    rule_order) non-null parse per row via min_by — identical semantics to
    compile_cascade (tested), per-row cost O(matching rules), not O(all
    rules): the 600-rule unrolled coalesce measured ~0.85 ms/row; this plan
    is ~50× cheaper. Costs 3 exchanges (winner agg + join-back) — prefer
    apply_cascade_array (zero-shuffle) unless you want the hits relation
    itself."""
    keyed = df.withColumn("_url", url).withColumn("_prov", provider)
    # namespace the rule columns so they can never collide with df's own
    # (a caller's df legitimately has e.g. its own provider_id column)
    rules = rules_df.select(
        *[F.col(c).alias(f"_r_{c}") for c in rules_df.columns]
    )
    specific = keyed.join(
        F.broadcast(rules.where(F.col("_r_provider_id").isNotNull())),
        on=F.col("_prov") == F.col("_r_provider_id"),
        how="inner",
    )
    universal = keyed.crossJoin(
        F.broadcast(rules.where(F.col("_r_provider_id").isNull()))
    )
    cand = specific.unionByName(universal)
    applicable = F.col("_r_url_pattern").isNull() | F.expr(
        "_url rlike _r_url_pattern"
    )
    raw = _extract_dynamic(
        F.col("_url"), F.col("_r_rule_type"), F.col("_r_argument")
    )
    cleaned = _clean_dynamic(
        raw, F.col("_r_remove_pattern"), F.col("_r_space_pattern"), as_int
    )
    hits = cand.where(applicable & cleaned.isNotNull()).select(
        F.col(id_col), cleaned.alias("_val"), F.col("_r_rule_order")
    )
    aggs = [F.min_by("_val", "_r_rule_order").alias(out_col)]
    if out_rule_col is not None:
        # winning rule id = lowest rule_order among non-null parses — the
        # reference's first-match loop index (url_query.py:118-126)
        aggs.append(F.min("_r_rule_order").alias(out_rule_col))
    winners = hits.groupBy(id_col).agg(*aggs)
    return df.join(winners, on=id_col, how="left")


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

"""Differential test of the Arrow-batched URL cascade kernel
(``operators.cascade.apply_cascade_array``) against the reference cascade
re-executed in plain Python (``tools.reference_rule_oracle.cascade``), on
all three real rule tables.

Inputs are drawn by hypothesis: a rule from the table, a URL its url_pattern
matches (``tools.make_rule_corpus.expand``), and a messy tail — encoded keys,
'+', valid, invalid and non-UTF-8 percent escapes, blank and duplicate
parameters, fragments, rewritten path segments and, for the integer tables,
non-ASCII digits. Each URL is normalized with pydantic first, which is the
kernel's documented precondition. Integer values stay within 18 digits: the
output column is bigint, where the oracle's Python int is unbounded.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, Phase, assume, given, settings
from hypothesis import strategies as st
from pydantic import HttpUrl
from pyspark.sql import functions as F

from archive_query_log_spark.operators.cascade import apply_cascade_array
from archive_query_log_spark.operators.rule_tables import reference_rules_df
from tools.make_rule_corpus import expand
from tools.reference_rule_oracle import cascade, load_oracle_rules

# every example is one Spark job over a whole batch of rows; shrinking
# would rerun it hundreds of times, and the failure message already lists
# the mismatching rows
_SET = settings(
    max_examples=6,
    deadline=None,
    phases=[Phase.explicit, Phase.reuse, Phase.generate],
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
        HealthCheck.data_too_large,
    ],
)

_TEXT_ATOMS = [
    "a", "Zq", "7", " ", "+", "++", "%20", "%2B", "%26", "%3D", "%25", "%",
    "%G1", "%e4%b8%ad", "%C3%BC", "\u00fc", "\u4e2d", "%FF", "%C3",
    "%ED%A0%80", "\u00a0", "%C2%A0", "%E3%80%80", "%1F", "%C2%85", "\t",
    ";", "/", "?", "*", ".", "-", "|", "{}", "^", "`", "[]", "\\",
]
# non-ASCII decimal digits (Arabic-Indic, Devanagari, fullwidth), raw and
# percent-encoded, plus digit separators and Unicode spaces
_INT_ATOMS = [
    "0", "7", "42", "007", "+", "-", " ", "_", "%20", "%2B", "x", "|",
    "\u0661\u0662", "\u0966", "\uff10", "%D9%A1", "%EF%BC%93", "\u00a0",
    "%C2%A0", "%",
]


def _pct(s: str) -> str:
    return "".join("%%%02X" % b for b in s.encode())


@st.composite
def _value(draw, as_int: bool):
    atoms = draw(st.lists(st.sampled_from(_INT_ATOMS if as_int else _TEXT_ATOMS), max_size=5))
    value = "".join(atoms)
    if as_int:
        assume(sum(c.isdigit() for c in value) <= 18)
    return value


@st.composite
def _pairs(draw, key: str, as_int: bool):
    # the rule's own key twice: drawn more often than each decoy
    keys = st.sampled_from([key, _pct(key), key.upper(), key + "+", "zz", "", key])
    pairs = draw(st.lists(st.tuples(keys, st.one_of(st.none(), _value(as_int))), max_size=4))
    return "&".join(k if v is None else f"{k}={v}" for k, v in pairs)


@st.composite
def _row(draw, rules, as_int: bool):
    rule = draw(st.sampled_from(rules))
    skel = draw(st.sampled_from(expand(rule.url_pattern.pattern)))
    base, _, frag = skel.partition("#")
    if rule.rule_type == "path_segment":
        scheme, _, rest = base.partition("://")
        host, _, path = rest.partition("/")
        segs = ("/" + path).split("/")
        seg = int(rule.argument)
        while len(segs) <= seg:
            segs.append(draw(st.sampled_from(["", "s"])))
        segs[seg] = draw(st.one_of(_value(as_int), st.just(segs[seg])))
        base = f"{scheme}://{host}" + "/".join(segs)
    key = str(rule.argument)
    tail = draw(_pairs(key, as_int))
    if tail:
        base += ("&" if "?" in base else "?") + tail
    frag_tail = draw(st.one_of(st.just(""), _pairs(key, as_int)))
    if frag or frag_tail:
        base += "#" + "&".join(p for p in (frag, frag_tail) if p)
    try:
        url = HttpUrl(base).encoded_string()
    except Exception:
        assume(False)
    provider = draw(
        st.sampled_from([rule.provider_id, rule.provider_id, None, "not-a-provider"])
    )
    return provider, url


def _check(spark, table: str, as_int: bool, rows):
    rules = _TABLES[table]
    df = spark.createDataFrame(
        [(i, p, u) for i, (p, u) in enumerate(rows)],
        "rid long, provider_id string, url string",
    )
    out = apply_cascade_array(
        df, reference_rules_df(spark, table), F.col("url"), F.col("provider_id"),
        out_col="v", as_int=as_int, out_rule_col="o",
    )
    got = {r["rid"]: (r["v"], r["o"]) for r in out.select("rid", "v", "o").collect()}
    bad = []
    for i, (provider, url) in enumerate(rows):
        want = cascade(rules, url, provider, as_int=as_int)
        if got[i] != want:
            bad.append((provider, url, want, got[i]))
    assert not bad, f"{len(bad)} mismatches vs the reference cascade: {bad[:5]}"


_TABLES = {t: load_oracle_rules(t) for t in ("url_query", "url_page", "url_offset")}


@pytest.mark.parametrize(
    "table,as_int",
    [("url_query", False), ("url_page", True), ("url_offset", True)],
)
def test_kernel_matches_reference_cascade(spark, table, as_int):
    @given(st.lists(_row(_TABLES[table], as_int), min_size=60, max_size=150))
    @_SET
    def run(rows):
        _check(spark, table, as_int, rows)

    run()

"""URL scalar functions — parse, canonicalize, clean (pure column exprs).

Reference semantics reproduced:
- parse_url_query_parameter / fragment / path segment:
  /root/reference/archive_query_log/parsers/utils/url.py:5-27
  (parse_qsl: first matching key wins, '+' decodes to space).
- remove_tracking_parameters: api/utils/url_cleaner.py:8-54 (param set below).
- url_key (SURT canonical key): stored from CDX in the reference
  (captures/__init__.py:80); computed explicitly here per SURVEY.md §2.8 C17.
- URL validity: ≤ 32766 bytes (captures/__init__.py:52-60).

Everything here is built-in `pyspark.sql.functions` — no Python UDFs — so the
10^10-row canonicalization pass stays inside whole-stage codegen.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# api/utils/url_cleaner.py:8-29
TRACKING_PARAMS = (
    "utm_source",
    "utm_medium",
    "utm_campaign",
    "utm_term",
    "utm_content",
    "fbclid",
    "gclid",
    "gclsrc",
    "msclkid",
    "mc_cid",
    "mc_eid",
    "ref",
    "_ga",
    "campaign_id",
)

MAX_URL_BYTES = 32766  # captures/__init__.py:52-60


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _escape_invalid_pct(value: Column) -> Column:
    """Lenient-parse shim: '%' not followed by two hex digits → '%25', so a
    malformed escape ('100%') survives as a literal '%' instead of nulling
    the value. This reproduces urllib's urlsplit/unquote/parse_qsl leniency
    (they leave invalid escapes untouched) while staying ANSI-safe. It must
    run BEFORE try_parse_url, not just before try_url_decode: Java's URI
    parser rejects the ENTIRE url on one bad escape (host, path and query
    all come back null), which would make a cascade fall through to a
    lower-precedence rule — or drop the row — where the reference still
    extracts a query."""
    return F.regexp_replace(value, r"%(?![0-9A-Fa-f]{2})", "%25")


def lenient_url(url: Column | str) -> Column:
    """A URL made parseable by Java's strict URI parser without changing its
    decoded meaning (invalid '%' → '%25'). All component extractors below go
    through this. Guarded by a cheap contains('%') so the regex pass is paid
    only by URLs that carry escapes at all (a minority of a real frontier);
    composite expressions (url_key, remove_tracking_parameters) sanitize
    ONCE and reuse — measured 1.5× on the 2M-URL canonicalization stage vs
    re-sanitizing per component."""
    c = _col(url)
    return F.when(c.contains("%"), _escape_invalid_pct(c)).otherwise(c)


def _host_of(lenient: Column) -> Column:
    return F.lower(F.try_parse_url(lenient, F.lit("HOST")))


def _path_of(lenient: Column) -> Column:
    return F.try_parse_url(lenient, F.lit("PATH"))


def _query_of(lenient: Column) -> Column:
    return F.try_parse_url(lenient, F.lit("QUERY"))


def url_host(url: Column | str) -> Column:
    return _host_of(lenient_url(url))


def url_path(url: Column | str) -> Column:
    return _path_of(lenient_url(url))


def url_query(url: Column | str) -> Column:
    return _query_of(lenient_url(url))


# --- non-UTF-8 %XX rescue (CPython ``errors='replace'`` parity) -------------
#
# urllib's unquote/parse_qsl percent-decode to BYTES and then utf-8-decode
# with errors='replace', so a latin-1 escape like '%E9' yields 'caf�'
# where try_url_decode nulls the whole value. The rescue rewrites the escape
# text so the byte stream becomes valid UTF-8 with U+FFFD standing exactly
# where CPython would put it (one replacement per *maximal invalid
# subsequence*, per the Unicode/W3C rule CPython implements — verified
# against bytes.decode('utf-8','replace') on lone bytes, truncated prefixes,
# overlongs, surrogates and >U+10FFFF leads in tests/test_urls.py):
#   1. protect VALID multi-byte escape sequences ('%'→\x01 sentinel),
#      longest first;
#   2. one pass replaces each maximal invalid prefix/lone byte with the
#      escape of U+FFFD (ordered alternation, longest prefixes first);
#   3. restore the sentinel.
# Known limitation: an input string that itself contains a literal \x01
# control char on this path would have it restored as '%'.
_CONT = "%[89AB][0-9A-F]"  # UTF-8 continuation byte escape

_PROTECT = [
    # 4-byte: F0 + 90-BF + 2 conts | F1-F3 + 3 conts | F4 + 80-8F + 2 conts
    (rf"(?i)%(F0)%([9AB][0-9A-F])%([89AB][0-9A-F])%([89AB][0-9A-F])",
     "\x01$1\x01$2\x01$3\x01$4"),
    (rf"(?i)%(F[1-3])%([89AB][0-9A-F])%([89AB][0-9A-F])%([89AB][0-9A-F])",
     "\x01$1\x01$2\x01$3\x01$4"),
    (rf"(?i)%(F4)%(8[0-9A-F])%([89AB][0-9A-F])%([89AB][0-9A-F])",
     "\x01$1\x01$2\x01$3\x01$4"),
    # 3-byte: E0 + A0-BF + cont | ED + 80-9F + cont | E1-EC,EE,EF + 2 conts
    (rf"(?i)%(E0)%([AB][0-9A-F])%([89AB][0-9A-F])", "\x01$1\x01$2\x01$3"),
    (rf"(?i)%(ED)%([89][0-9A-F])%([89AB][0-9A-F])", "\x01$1\x01$2\x01$3"),
    (rf"(?i)%(E[1-9A-CEF])%([89AB][0-9A-F])%([89AB][0-9A-F])",
     "\x01$1\x01$2\x01$3"),
    # 2-byte: C2-DF + cont
    (rf"(?i)%(C[2-9A-F]|D[0-9A-F])%([89AB][0-9A-F])", "\x01$1\x01$2"),
]

# maximal invalid subsequences, longest prefixes first; each → one U+FFFD
_INVALID = (
    rf"(?i)%F0%[9AB][0-9A-F](?:{_CONT})?"  # truncated F0-lead (1-2 conts)
    rf"|%F[1-3](?:{_CONT}){{1,2}}"  # truncated F1-F3-lead
    rf"|%F4%8[0-9A-F](?:{_CONT})?"  # truncated F4-lead
    rf"|%E0%[AB][0-9A-F]"  # truncated E0-lead
    rf"|%ED%[89][0-9A-F]"  # truncated ED-lead
    rf"|%E[1-9A-CEF]%[89AB][0-9A-F]"  # truncated E1-EF-lead
    rf"|%[C-F][0-9A-F]"  # lone lead (incl. invalid C0/C1/F5-FF)
    rf"|{_CONT}"  # orphan continuation
)


def _utf8_rescue(escaped: Column) -> Column:
    """Rewrite non-UTF-8 %XX escapes to U+FFFD escapes (CPython 'replace'
    parity). Input must already be through _escape_invalid_pct."""
    c = escaped
    for pat, repl in _PROTECT:
        c = F.regexp_replace(c, pat, repl)
    c = F.regexp_replace(c, _INVALID, "%EF%BF%BD")
    return F.regexp_replace(c, "\x01", "%")


def _try_decode_replace(escaped: Column) -> Column:
    """try_url_decode with the non-UTF-8 rescue as a per-row fallback.

    Java's URL decoder already substitutes U+FFFD for malformed UTF-8, but
    draws maximal-subsequence boundaries differently from CPython in a few
    cases (e.g. the CESU-8 surrogate %ED%A0%80: Java 1×FFFD, CPython 3×).
    A decode output containing U+FFFD is exactly the signal that an invalid
    sequence was hit (a literal U+FFFD in the input round-trips identically
    through the rescue), so only those rows — plus nulls — pay the rescue's
    regex passes; the hot path stays one JVM intrinsic."""
    plain = F.try_url_decode(escaped)
    return F.when(
        plain.isNull() | plain.contains("�"),
        F.try_url_decode(_utf8_rescue(escaped)),
    ).otherwise(plain)


def form_decode(value: Column) -> Column:
    """application/x-www-form-urlencoded decode ('+' → space, %XX).

    Lenient like the reference's parse_qsl: invalid %-escapes decode to a
    literal '%' (see _escape_invalid_pct) and non-UTF-8 escape bytes decode
    to U+FFFD exactly like CPython's errors='replace' (see _utf8_rescue);
    try_ variants so any residual decode error yields null for THAT row —
    url_decode under ANSI would fail the whole task (per-row errors must
    never kill a 10^10-row job).
    """
    # identity fast path: a string with neither '%' nor '+' decodes to
    # itself, so it skips the escape-sanitize regex + url_decode entirely —
    # most keys/values of a real frontier are plain ASCII words, and the
    # per-(row × rule) qsl key compare in the cascades was paying the full
    # decode for every one of them (a NULL input falls through to the
    # otherwise branch and stays NULL, as before)
    plain = ~(value.contains("%") | value.contains("+"))
    return F.when(plain, value).otherwise(
        _try_decode_replace(_escape_invalid_pct(value))
    )


def percent_decode(value: Column) -> Column:
    """urllib.parse.unquote parity: %XX only, '+' preserved, invalid escapes
    left as literal '%', non-UTF-8 escape bytes → U+FFFD (same leniency
    rationale as form_decode)."""
    # identity fast path ('%'-free input is returned verbatim — '+' is
    # preserved by this decoder, so it needs no guard of its own)
    return F.when(
        ~value.contains("%"),
        value,
    ).otherwise(
        _try_decode_replace(
            F.regexp_replace(_escape_invalid_pct(value), r"\+", "%2B")
        )
    )


def parse_qsl_first(qs: Column, parameter: Column) -> Column:
    """First value of `parameter` in a query/fragment string with EXACT
    ``urllib.parse.parse_qsl`` semantics (parsers/utils/url.py:5-16):

    - fields split on '&'; a field without '=' is skipped
    - KEYS are form-decoded before comparison ('SearchForm%5Btitle%5D' must
      match the rule parameter 'SearchForm[title]')
    - blank values are dropped (keep_blank_values=False): 'q=&q=b' → 'b'
    - the value is form-decoded ('+' → space, %XX)

    Built from split/filter/transform higher-order functions — NOT Spark's
    ``parse_url(url, 'QUERY', key)``, which treats the key as a REGEX
    (a rule parameter like 'tags[]' or 'c[q]' would be an invalid or wrong
    pattern) and neither decodes keys nor skips blank values.
    """
    pairs = F.split(F.coalesce(qs, F.lit("")), "&")
    matches = F.filter(
        pairs,
        lambda kv: (F.instr(kv, "=") > 0)
        & (form_decode(F.substring_index(kv, "=", 1)).eqNullSafe(parameter))
        & (F.instr(kv, "=") < F.length(kv)),
    )
    first = F.get(matches, 0)
    return form_decode(
        F.substring(first, F.instr(first, "=") + 1, F.lit(2_000_000))
    )


def parse_url_query_parameter(parameter: str, url: Column | str) -> Column:
    """First value of a query param, form-decoded (parsers/utils/url.py:5-9)."""
    return parse_qsl_first(url_query(url), F.lit(parameter))


def parse_url_fragment_parameter(parameter: str, url: Column | str) -> Column:
    """Param parsed out of the #fragment (parsers/utils/url.py:12-16)."""
    frag = F.try_parse_url(lenient_url(url), F.lit("REF"))
    return parse_qsl_first(frag, F.lit(parameter))


def parse_url_path_segment(segment: int, url: Column | str) -> Column:
    """n-th '/'-segment of the path, percent-decoded
    (parsers/utils/url.py:19-27: ``path.split("/")[segment]`` then unquote —
    with a leading '/', segment=1 is the first real segment)."""
    # try_element_at: a too-short path yields null for the row (ANSI
    # element_at would abort the job on the first short URL)
    seg = F.try_element_at(F.split(url_path(url), "/"), F.lit(segment + 1))
    return percent_decode(seg)


def _params_array_of(lenient: Column) -> Column:
    q = _query_of(lenient)
    return F.when(q.isNull() | (q == ""), F.array().cast("array<string>")).otherwise(
        F.split(q, "&")
    )


def query_params_array(url: Column | str) -> Column:
    """Query string as an array of 'k=v' strings (empty array if none)."""
    return _params_array_of(lenient_url(url))


def strip_tracking_params(params: Column) -> Column:
    """Drop tracking params and empty '&&' artifacts from a 'k=v' array
    (url_cleaner.py:31-54)."""
    names = F.array(*[F.lit(p) for p in TRACKING_PARAMS])
    key_of = lambda kv: F.split(kv, "=")[0]  # noqa: E731
    return F.filter(
        params,
        lambda kv: (F.length(kv) > 0) & ~F.array_contains(names, key_of(kv)),
    )


def remove_tracking_parameters(url: Column | str) -> Column:
    """Rebuild the URL without tracking params (url_cleaner.py:31-54).

    scheme://host[:port]path[?kept_params][#fragment]
    """
    u = lenient_url(url)  # sanitize ONCE; raw component getters below
    scheme = F.lower(F.try_parse_url(u, F.lit("PROTOCOL")))
    hostport = F.try_parse_url(u, F.lit("AUTHORITY"))
    path = F.coalesce(_path_of(u), F.lit(""))
    kept = strip_tracking_params(_params_array_of(u))
    qs = F.array_join(kept, "&")
    frag = F.try_parse_url(u, F.lit("REF"))
    return F.concat(
        scheme,
        F.lit("://"),
        hostport,
        path,
        F.when(F.size(kept) > 0, F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
        F.when(frag.isNotNull(), F.concat(F.lit("#"), frag)).otherwise(F.lit("")),
    )


def url_key(url: Column | str) -> Column:
    """SURT-style canonical key (SURVEY.md C17): the frontier dedup key.

    - host lowercased, leading 'www.' stripped, segments reversed and
      comma-joined ('org,example')
    - ')' separator, then the path lowercased with any trailing '/' stripped
    - '?' + tracking-stripped, sorted 'k=v' params (order-insensitive dedup)

    e.g. https://www.Example.org/A/b/?b=2&utm_source=x&a=1
         → 'org,example)/a/b?a=1&b=2'
    """
    u = lenient_url(url)  # sanitize ONCE; raw component getters below
    host = F.regexp_replace(_host_of(u), r"^www\.", "")
    rev_host = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.lower(F.regexp_replace(F.coalesce(_path_of(u), F.lit("")), "/+$", ""))
    kept = F.array_sort(strip_tracking_params(_params_array_of(u)))
    return F.concat(
        rev_host,
        F.lit(")"),
        path,
        F.when(
            F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
        ).otherwise(F.lit("")),
    )


def url_key_oracle_sql(expr: str) -> str:
    """DuckDB-SQL twin of url_key() for oracle queries (same steps).

    Host regex strips userinfo and port like Spark's parse_url(HOST)."""
    host = (
        f"regexp_replace(lower(regexp_extract({expr},"
        " '^[a-z]+://(?:[^/?#@]*@)?([^/?#:]+)', 1)),"
        " '^www\\.', '')"
    )
    path = f"lower(regexp_replace(coalesce(regexp_extract({expr}, '^[a-z]+://[^/?#]+(/[^?#]*)', 1), ''), '/+$', ''))"
    params = (
        f"list_sort(list_filter(string_split(regexp_extract({expr}, '\\?([^#]*)', 1), '&'),"
        " kv -> len(kv) > 0 AND NOT list_contains("
        "['" + "','".join(TRACKING_PARAMS) + "'], string_split(kv, '=')[1])))"
    )
    return (
        f"(array_to_string(list_reverse(string_split({host}, '.')), ',') || ')' || {path}"
        f" || CASE WHEN len({params}) > 0 THEN '?' || array_to_string({params}, '&') ELSE '' END)"
    )


def normalize_http_url(url: Column | str) -> Column:
    """WHATWG-style URL normalization matching pydantic
    ``HttpUrl.encoded_string()`` — what the reference's parser cascades see
    as input (``capture.url.encoded_string()``, parsers/url_query.py:56) —
    on the raw-URL divergences a crawler actually encounters:

    - scheme and host lowercased ('https://Google.com' → 'https://google.com')
    - default port stripped (':443' for https, ':80' for http)
    - empty path → '/' ('https://google.com?q=x' → 'https://google.com/?q=x')
    - userinfo, path case, query, fragment and %-escapes — even INVALID
      ones like 'q=100%' — preserved byte-for-byte (pydantic keeps them raw)

    Pure column expressions (JVM intrinsics, codegen-friendly) — run this
    over the raw frontier BEFORE apply_cascade_array so anchored url_patterns
    match exactly what the reference matched. Components are carved out
    with regexes rather than Java's URI parser: parse_url would reject the
    whole URL on one malformed escape, and the lenient_url shim would
    rewrite '%'→'%25' where pydantic leaves it untouched. Exact-parity
    precondition: ASCII host and no unencoded spaces / dot-segments; URLs
    needing IDNA punycode or path re-encoding go through
    normalize_http_url_udf(). Authorities the column math would get WRONG
    rather than merely unnormalized — bracketed IPv6 hosts, multiple '@',
    non-canonical ports like ':0443' — yield NULL so callers route them to
    the UDF instead of shipping a corrupted URL.
    """
    u = _col(url)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    authority = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    # everything past the authority, split at the first '?' (before any '#')
    # and the first '#'
    tail = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([\s\S]*)$", 1
    )
    frag_part = F.regexp_extract(tail, r"(#[\s\S]*)$", 0)  # '' if no '#'
    # userinfo@ prefix (kept verbatim), host:port remainder
    userinfo = F.when(
        authority.contains("@"),
        F.concat(F.substring_index(authority, "@", 1), F.lit("@")),
    ).otherwise(F.lit(""))
    hostport = F.substring_index(authority, "@", -1)
    host = F.lower(F.substring_index(hostport, ":", 1))
    port = F.when(
        hostport.contains(":"), F.substring_index(hostport, ":", -1)
    ).otherwise(F.lit(None).cast("string"))
    default_port = F.when(scheme == "https", F.lit("443")).otherwise(
        F.when(scheme == "http", F.lit("80")).otherwise(
            F.lit(None).cast("string")
        )
    )
    port_part = F.when(
        port.isNotNull() & (port != "") & ~port.eqNullSafe(default_port),
        F.concat(F.lit(":"), port),
    ).otherwise(F.lit(""))
    before_frag = F.substring(tail, 1, F.length(tail) - F.length(frag_part))
    path = F.regexp_extract(before_frag, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query_part = F.regexp_extract(before_frag, r"(\?[\s\S]*)$", 0)
    # outside-precondition authorities yield NULL (route to the UDF) rather
    # than a silently-wrong URL: bracketed IPv6 hosts (the ':' split would
    # mangle them), multiple '@' (pydantic %40-encodes the extras), and
    # non-canonical ports like ':0443' (pydantic re-canonicalizes)
    invalid = (
        authority.contains("[")
        | (F.size(F.split(authority, "@")) > 2)
        | (
            port.isNotNull()
            & (port != "")
            & (
                ~port.rlike("^[1-9][0-9]{0,4}$")
                # pydantic rejects ports > 65535 — NULL-route them to the
                # UDF so the 'wrong → NULL' contract holds for 65536-99999
                | (port.cast("int") > 65535)
            )
        )
    )
    return F.when(
        (scheme == "") | (host == "") | invalid,
        F.lit(None).cast("string"),
    ).otherwise(
        F.concat(
            scheme,
            F.lit("://"),
            userinfo,
            host,
            port_part,
            path,
            query_part,
            frag_part,
        )
    )


def normalize_http_url_udf():
    """Exact pydantic ``HttpUrl.encoded_string()`` normalization (IDNA
    punycode hosts, dot-segment removal, space/%-re-encoding) as an
    Arrow-batched pandas UDF — the slow-path sibling of normalize_http_url
    for the minority of URLs outside its precondition. Unparseable URLs
    (pydantic ValidationError) yield null, mirroring the reference dropping
    the capture. Requires pydantic (available wherever the reference's own
    import pipeline runs); raises ImportError at construction otherwise."""
    from pydantic import HttpUrl  # noqa: F401 — fail fast if unavailable
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(url: pd.Series) -> pd.Series:
        from pydantic import HttpUrl

        out = []
        for u in url:
            if u is None:
                out.append(None)
                continue
            try:
                out.append(HttpUrl(u).encoded_string())
            except Exception:
                out.append(None)
        return pd.Series(out)

    return _norm


def urljoin_udf():
    """C8: resolve relative hrefs against a base URL
    (parsers/warc_web_search_result_blocks.py:141). RFC 3986 resolution is
    too stateful for regex → Arrow-batched pandas UDF (the sanctioned slow
    path; used only on extracted result links, never on the frontier)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _urljoin(base: pd.Series, href: pd.Series) -> pd.Series:
        from urllib.parse import urljoin

        return pd.Series(
            [
                None if b is None or h is None else urljoin(b, h)
                for b, h in zip(base, href)
            ]
        )

    return _urljoin


def valid_url(url: Column | str) -> Column:
    """Row-validity filter: URL ≤ 32766 bytes (captures/__init__.py:52-60)."""
    return F.octet_length(_col(url)) <= MAX_URL_BYTES

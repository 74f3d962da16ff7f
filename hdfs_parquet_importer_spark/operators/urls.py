"""URL canonicalization — the standard pre-dedup stage of a
crawl-scale corpus pipeline.

Crawl corpora address the same page many ways: scheme/host case,
explicit default ports, duplicate slashes, trailing slashes, tracking
query parameters (``utm_*``, ``ref``, ``fbclid``, ``gclid``), shuffled
parameter order, and fragments. Canonicalizing before exact/near dedup
collapses these aliases so the dedup key is the page, not the spelling.

Everything here is a pure per-row Catalyst column expression (regexp
extraction + array higher-order functions, zero UDFs, zero shuffles):
at 100 TB the canonical form is computed inside the ingest scan and
pipelines straight into the hash-groupBy exact dedup
(``operators/dedup.py``) or MinHash machinery, whose one exchange on
the canonical key is the only shuffle of the whole stage.

The rules (applied in order):

1. scheme and host lowercased (bracketed IPv6 hosts kept whole);
2. explicit default port stripped (``http:80``, ``https:443``); any
   other explicit port kept;
3. path: runs of ``/`` collapsed, empty path → ``/``, trailing slash
   stripped (except the root path);
4. query: parameters split on ``&``, tracking parameters
   (``utm_*``/``ref``/``fbclid``/``gclid``, with or without ``=``)
   and empty fragments dropped, the rest sorted byte-wise and
   rejoined — parameter ORDER never distinguishes two URLs;
5. fragment dropped (never sent to the server) — including any ``?``
   that appears only inside the fragment.

Inputs WITHOUT a ``scheme://`` prefix (scheme-relative or malformed
crawl artifacts) pass through UNCHANGED: canonicalization is defined
for absolute URLs, and collapsing undecodable inputs onto a shared
key would merge unrelated documents — passthrough preserves
distinctness and keeps the function idempotent. URLs whose authority
carries RFC 3986 userinfo (``user:pw@host``) pass through for the
same reason: ``_HOST_RE`` reads up to the first ``:``, which inside a
userinfo authority is the *username* — two different hosts behind the
same username would collapse onto one canonical key and the dedup
survivor policy would silently drop documents from a different host.
Real crawls contain such URLs but they are rare and
usually non-content (auth endpoints), so keeping them distinct is the
safe trade.

Every rule is restricted to the Java-regex ∩ RE2 dialect so the DuckDB
oracle (`canonicalize_url_sql`) replays the exact same pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tracking parameters dropped by rule 4 (bare '?ref' and valued
# '?ref=x' alike — the alias with and without a value is the same
# page). Shared with the SQL twin.
TRACKING_PARAM_RE = "^(utm_|ref(=|$)|fbclid(=|$)|gclid(=|$))"

_ABS_RE = "^[A-Za-z][A-Za-z0-9+.-]*://"
_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
# The query must start BEFORE any '#': '[^#?]*' pins the match to the
# first '?' of the pre-fragment region, so a '?' that appears only
# inside the fragment (e.g. '/a#x?y=1') is dropped with the fragment.
_QUERY_RE = "^[^#?]*\\?([^#]*)"
# Host: a bracketed IPv6 literal is kept whole; otherwise everything
# up to the first ':' (the port separator).
_HOST_RE = "^(\\[[^\\]]*\\]|[^:]*)"
_PORT_RE = "^(?:\\[[^\\]]*\\]|[^:]*):([0-9]+)$"


def canonicalize_url(url: Column) -> Column:
    """Canonical form of ``url`` as a pure Catalyst expression."""
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    hostport = F.regexp_extract(url, _HOSTPORT_RE, 1)
    host = F.lower(F.regexp_extract(hostport, _HOST_RE, 1))
    port = F.regexp_extract(hostport, _PORT_RE, 1)
    raw_path = F.regexp_extract(url, _PATH_RE, 1)
    query = F.regexp_extract(url, _QUERY_RE, 1)

    port_part = F.when(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))

    # Collapse //+, default empty path to '/', strip the trailing
    # slash everywhere but the root.
    p1 = F.regexp_replace(
        F.when(raw_path == "", F.lit("/")).otherwise(raw_path), "/{2,}", "/"
    )
    path = F.when(p1 != "/", F.regexp_replace(p1, "/$", "")).otherwise(p1)

    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (F.length(p) > 0) & (~p.rlike(TRACKING_PARAM_RE)),
            )
        ),
        "&",
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        port_part,
        path,
        F.when(params != "", F.concat(F.lit("?"), params)).otherwise(F.lit("")),
    )
    # Non-absolute inputs pass through unchanged (module docstring):
    # without a scheme every component regex comes back empty and all
    # such inputs would collapse onto the shared key ':///...'. A
    # userinfo authority ('user:pw@host') also passes through — the
    # host split above would otherwise canonicalize two DIFFERENT
    # hosts behind one username to the same key.
    return F.when(
        url.rlike(_ABS_RE) & ~hostport.contains("@"), canon
    ).otherwise(url)


def canonicalize_url_sql(url_expr: str) -> str:
    """The DuckDB twin: the same five rules over ``url_expr``.

    Returns a scalar SQL expression (RE2 dialect; byte-wise
    ``list_sort`` matches Spark's ``array_sort`` on ASCII parameter
    strings).
    """
    scheme = f"lower(regexp_extract({url_expr}, '{_SCHEME_RE}', 1))"
    hostport = f"regexp_extract({url_expr}, '{_HOSTPORT_RE}', 1)"
    host = f"lower(regexp_extract({hostport}, '{_HOST_RE}', 1))"
    port = f"regexp_extract({hostport}, '{_PORT_RE}', 1)"
    raw_path = f"regexp_extract({url_expr}, '{_PATH_RE}', 1)"
    query = f"regexp_extract({url_expr}, '{_QUERY_RE}', 1)"
    port_part = (
        f"CASE WHEN {port} = '' OR ({scheme} = 'http' AND {port} = '80') "
        f"OR ({scheme} = 'https' AND {port} = '443') "
        f"THEN '' ELSE ':' || {port} END"
    )
    p1 = (
        f"regexp_replace(CASE WHEN {raw_path} = '' THEN '/' "
        f"ELSE {raw_path} END, '/{{2,}}', '/', 'g')"
    )
    path = f"CASE WHEN {p1} <> '/' THEN regexp_replace({p1}, '/$', '') ELSE {p1} END"
    params = (
        f"array_to_string(list_sort(list_filter(string_split({query}, '&'), "
        f"p -> length(p) > 0 AND NOT regexp_matches(p, '{TRACKING_PARAM_RE}'))), '&')"
    )
    canon = (
        f"{scheme} || '://' || {host} || {port_part} || {path} || "
        f"CASE WHEN {params} <> '' THEN '?' || {params} ELSE '' END"
    )
    return (
        f"CASE WHEN regexp_matches({url_expr}, '{_ABS_RE}') "
        f"AND strpos({hostport}, '@') = 0 "
        f"THEN {canon} ELSE {url_expr} END"
    )

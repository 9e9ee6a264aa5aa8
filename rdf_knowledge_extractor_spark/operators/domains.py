"""Domain-level web-corpus analytics: registrable-domain extraction,
per-domain rollups, and blocklist admission filtering.

At 100 TB of web text the natural curation unit above the document is
the DOMAIN: quota capping, blocklists, and quality triage all key on
the registrable domain (example.co.uk, not deep.sub.example.co.uk).
Beyond-reference family (the reference engine has no URL handling
beyond fetching a page — /root/reference/src/handlers/mod.rs).

Scale shape: extraction is pure Catalyst string work evaluated at
scan speed (no UDF, no shuffle); the per-domain report is ONE
map-side-combined hash aggregate; the blocklist filter broadcasts the
list side (a blocklist is small by construction).

The suffix handling is a deliberately small embedded subset of the
public-suffix list — the common two-label country suffixes — kept
tiny so the DuckDB oracle can mirror the exact same decision table;
swapping in the full PSL is a data change, not a code change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# two-label public suffixes under which the registrable domain is the
# LAST THREE labels (subset of the public-suffix list; extend as data)
MULTI_LABEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp",
    "co.in", "co.nz", "co.za", "co.kr",
    "com.br", "com.cn", "com.mx", "com.ar", "com.tr",
)

_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^/?#@]*@)?([^/?#:]+)"


def url_host(url_col) -> F.Column:
    """Lowercased host of a URL (scheme required; userinfo, port,
    path, query, fragment stripped; trailing dot removed).  Returns
    '' for unparseable input — regexp_extract's no-match value —
    which downstream treats as an unknown domain."""
    host = F.lower(F.regexp_extract(url_col, _HOST_RE, 1))
    return F.regexp_replace(host, r"\.$", "")


def registrable_domain(url_col) -> F.Column:
    """eTLD+1 of the URL's host: the last two labels, or the last
    THREE when the last two are a known multi-label public suffix
    (co.uk and friends).  IP-literal hosts pass through whole."""
    host = url_host(url_col)
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.slice(labels, F.greatest(n - 1, F.lit(1)), 2))
    last3 = F.concat_ws(".", F.slice(labels, F.greatest(n - 2, F.lit(1)), 3))
    is_ip = host.rlike(r"^[0-9.]+$")
    return (
        F.when(host == "", F.lit(""))
        .when(is_ip | (n <= 2), host)
        .when(last2.isin(*MULTI_LABEL_SUFFIXES), last3)
        .otherwise(last2)
    )


def domain_report(
    docs: DataFrame, url_col: str = "url", chars_col: str = "n_chars"
) -> DataFrame:
    """(domain, n_docs, total_chars, avg_chars, share) — one
    map-side-combined hash aggregate keyed on the registrable domain;
    `share` is each domain's fraction of all docs (4 dp), computed
    from a 1-row broadcast total so the corpus is aggregated once."""
    per = (
        docs.select(
            registrable_domain(F.col(url_col)).alias("domain"),
            F.col(chars_col).alias("_c"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_c").cast("long").alias("total_chars"),
            F.round(F.avg("_c"), 4).alias("avg_chars"),
        )
    )
    total = per.agg(F.sum("n_docs").cast("double").alias("_t"))
    return per.crossJoin(F.broadcast(total)).select(
        "domain",
        "n_docs",
        "total_chars",
        "avg_chars",
        F.round(F.col("n_docs") / F.col("_t"), 4).alias("share"),
    )


def filter_domains(
    docs: DataFrame, blocklist: list[str], url_col: str = "url"
) -> DataFrame:
    """Admission filter on the registrable domain: a blocklist removes
    listed domains.  The list rides as a broadcast left_anti hash join
    so the corpus is never re-shuffled."""
    block = docs.sparkSession.createDataFrame(
        [(d.lower(),) for d in blocklist], ["_dom"]
    )
    return (
        docs.withColumn("_dom", registrable_domain(F.col(url_col)))
        .join(F.broadcast(block), on="_dom", how="left_anti")
        .drop("_dom")
    )


# query parameters dropped during canonicalization (tracking noise)
TRACKING_PARAM_PREFIXES = ("utm_", "gclid", "fbclid", "msclkid", "mc_eid")


def canonical_url(url_col) -> F.Column:
    """Canonical form of a URL for exact-dedup keys — the classic
    web-crawl normalization, all pure Catalyst at scan speed:

    - scheme and host lowercased; userinfo dropped;
    - default ports stripped (http:80, https:443), others kept;
    - fragment dropped;
    - tracking query params dropped (utm_*, gclid, fbclid, …),
      remaining params sorted for order-insensitivity;
    - trailing slash stripped from non-root paths; empty path → '/'.

    Unparseable input (no scheme://host) canonicalizes to ''."""
    scheme = F.lower(
        F.regexp_extract(url_col, r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://", 1)
    )
    authority = F.regexp_extract(url_col, r"^[^:]*://([^/?#]*)", 1)
    hostport = F.regexp_replace(authority, r"^[^@]*@", "")
    host = F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1))
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    path = F.regexp_extract(url_col, r"^[^:]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(
        F.regexp_replace(path, r"(.)/$", "$1")
    )
    query = F.regexp_extract(url_col, r"\?([^#]*)", 1)
    def _keep(p):
        cond = p != ""
        for t in TRACKING_PARAM_PREFIXES:
            cond = cond & ~p.startswith(t)
        return cond

    params = F.array_sort(F.filter(F.split(query, "&"), _keep))
    qs = F.concat_ws("&", params)
    return F.when(
        (scheme == "") | (host == ""), F.lit("")
    ).otherwise(
        F.concat(
            scheme,
            F.lit("://"),
            host,
            F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(
                F.lit("")
            ),
            path,
            F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
        )
    )


def canonical_url_sql(url_expr: str) -> str:
    """DuckDB twin of `canonical_url` — same regexes, same tracking
    table, same rebuild, so oracle runs compare semantics."""
    scheme = f"lower(regexp_extract({url_expr}, '^([a-zA-Z][a-zA-Z0-9+.\\-]*)://', 1))"
    authority = f"regexp_extract({url_expr}, '^[^:]*://([^/?#]*)', 1)"
    hostport = f"regexp_replace({authority}, '^[^@]*@', '')"
    host = f"lower(regexp_extract({hostport}, '^([^:]*)', 1))"
    port = f"regexp_extract({hostport}, ':([0-9]+)$', 1)"
    keep_port = (
        f"({port} <> '' AND NOT ({scheme} = 'http' AND {port} = '80')"
        f" AND NOT ({scheme} = 'https' AND {port} = '443'))"
    )
    raw_path = f"regexp_extract({url_expr}, '^[^:]*://[^/?#]*([^?#]*)', 1)"
    path = (
        f"CASE WHEN {raw_path} = '' THEN '/' "
        f"ELSE regexp_replace({raw_path}, '(.)/$', '\\1') END"
    )
    query = f"regexp_extract({url_expr}, '\\?([^#]*)', 1)"
    not_tracking = " AND ".join(
        f"NOT starts_with(p, '{t}')" for t in TRACKING_PARAM_PREFIXES
    )
    params = (
        f"list_sort(list_filter(string_split({query}, '&'), "
        f"p -> p <> '' AND {not_tracking}))"
    )
    qs = f"array_to_string({params}, '&')"
    return f"""CASE WHEN {scheme} = '' OR {host} = '' THEN ''
      ELSE {scheme} || '://' || {host}
           || CASE WHEN {keep_port} THEN ':' || {port} ELSE '' END
           || {path}
           || CASE WHEN {qs} <> '' THEN '?' || {qs} ELSE '' END
      END"""


def registrable_domain_sql(url_expr: str) -> str:
    """DuckDB twin of `registrable_domain` over a URL expression —
    the exact same host regex, suffix table, and IP passthrough, so
    oracle comparisons test semantics, not implementations."""
    suffixes = ", ".join(f"'{s}'" for s in MULTI_LABEL_SUFFIXES)
    host = (
        f"regexp_replace(lower(coalesce(regexp_extract({url_expr}, "
        f"'{_HOST_RE}', 1), '')), '\\.$', '')"
    )
    ls = f"string_split({host}, '.')"
    n = f"len({ls})"
    last2 = f"array_to_string(({ls})[greatest({n}-1,1):{n}], '.')"
    last3 = f"array_to_string(({ls})[greatest({n}-2,1):{n}], '.')"
    return f"""CASE
      WHEN {host} = '' THEN ''
      WHEN regexp_matches({host}, '^[0-9.]+$') OR {n} <= 2 THEN {host}
      WHEN {last2} IN ({suffixes}) THEN {last3}
      ELSE {last2}
    END"""

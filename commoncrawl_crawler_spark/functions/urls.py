"""URL scalar functions (SURVEY.md section 2.8).

The reference's URL layer is ~2,500 LoC of Java + native C++
(util/URLUtils.java:67-155,545; util/GoogleURL.java;
util/SessionIDURLNormalizer.java; tests URLUtils.java:972,1117) plus
a Rabin fingerprint generator (util/FPGenerator.java) producing the
URLFPV2 key (protocol.jr:54-72: domainHash, urlHash,
rootDomainHash).

This module re-implements the URL *capabilities* from public
knowledge: RFC 3986 parsing via urllib and a public-suffix-style
root-domain rule. No reference code is copied. No URLFPV2 generator
is kept: where the engine needs a 64-bit URL hash it uses Spark's
built-in `xxhash64` (operators/bloom.py).

Two tiers:
- `*_expr` Column expressions -- JVM-side, whole-stage-codegen
  friendly; the hot path for 100 TB scans.
- `canonicalize_url` / `root_domain` / `idna_host` Python kernels
  wrapped as pandas UDFs -- full-fidelity parsing for edge cases,
  Arrow-batched.
"""

from __future__ import annotations

import re
from functools import lru_cache
from urllib.parse import urlsplit, urlunsplit

from commoncrawl_crawler_spark.functions import psl

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf

# ---------------------------------------------------------------------------
# canonicalization (util/URLUtils.java:67-155 semantics, re-derived)
# ---------------------------------------------------------------------------

# session-id query parameters stripped during canonicalization
# (util/SessionIDURLNormalizer.java strips these token families)
SESSION_PARAMS = (
    "jsessionid",
    "phpsessid",
    "sessionid",
    "session_id",
    "sid",
    "aspsessionid",
    "cfid",
    "cftoken",
    "utm_source",
    "utm_medium",
    "utm_campaign",
    "utm_term",
    "utm_content",
)

_DEFAULT_PORTS = {"http": 80, "https": 443, "ftp": 21}

# path-embedded session-id shapes (behavior of
# util/SessionIDURLNormalizer.java re-expressed as regexes over the
# assembled URL; the id-length/charset constraints mirror its
# hex-32 / alnum-26 checks)
_SESSION_PATH_PATTERNS = (
    (re.compile(r"(?i)^(.*php.*)/oscsid/[0-9a-f]{16,40}$"), r"\1"),
    (
        re.compile(
            r"(?i)^(.*)[/;.+-]phpsessid[=./+-]"
            r"(?:[0-9a-f]{32}|[0-9a-z]{26})(?![0-9a-z])(.*)$"
        ),
        r"\1\2",
    ),
    (re.compile(r"(?i)^(.*/)sessions/[0-9a-f]{16,40}/(.*)$"), r"\1\2"),
    (re.compile(r"(?i)^(.*)/session_id/[0-9a-z]{16,40}(/.*|$)"), r"\1\2"),
    (re.compile(r"(?i)^(.*)--session_id\.[0-9]+(.*)$"), r"\1\2"),
)


def canonicalize_url(url: str | None) -> str | None:
    """Canonical form (util/URLUtils.java:79-143 semantics re-derived):
    lowercase scheme+host, strip trailing host dot, strip the scheme's
    own default port, truncate the path at its first ';' (matrix
    params, e.g. ;jsessionid=...), drop session-id query params and
    path-embedded session-id segments, '/' default path, and drop the
    fragment UNLESS it starts with '!' (the AJAX-crawl convention the
    reference stirs back in). Leading 'www.' is NOT collapsed (the
    reference keeps www distinct and analyzes the prefix separately,
    WWWPrefixStatsCollectorStep.java:51)."""
    if url is None:
        return None
    url = url.strip()
    if not url:
        return None
    if "://" not in url:
        url = "http://" + url
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower().rstrip(".")
    if not host:
        return None
    port = None
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = host
    if port is not None and port != _DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    # truncate at the first ';': matrix params (jsessionid and friends)
    # never survive canonicalization in the reference
    if ";" in path:
        path = path[: path.index(";")] or "/"
    query = "&".join(
        kv
        for kv in parts.query.split("&")
        if kv and kv.split("=", 1)[0].lower() not in SESSION_PARAMS
    )
    # fragments are dropped except the #! AJAX-crawl convention
    frag = parts.fragment if parts.fragment.startswith("!") else ""
    out = urlunsplit((scheme, netloc, path, query, frag))
    for pat, repl in _SESSION_PATH_PATTERNS:
        out = pat.sub(repl, out)
    return out


def root_domain(host: str | None) -> str | None:
    """eTLD+1 extraction (util/URLUtils.java:737 capability) against
    the public-suffix table in functions/psl.py: longest-suffix match
    with wildcard and exception rules, so co.uk / com.au / github.io
    class hosts all root correctly."""
    if not host:
        return None
    host = host.lower().rstrip(".")
    labels = host.split(".")
    sl = psl.suffix_label_count(labels)
    if len(labels) <= sl:
        return host
    return ".".join(labels[-(sl + 1) :])


# ---------------------------------------------------------------------------
# pandas UDFs (Arrow-batched) for the full-fidelity kernels
# ---------------------------------------------------------------------------


# pandas_udf parses its DDL return type against the active session,
# so the UDF objects are built lazily (first use) and cached.


@lru_cache(maxsize=None)
def _canonicalize_udf():
    @pandas_udf("string")
    def _udf(urls: pd.Series) -> pd.Series:
        return urls.map(canonicalize_url)

    return _udf


def canonicalize_url_udf(col):
    return _canonicalize_udf()(col)


@lru_cache(maxsize=None)
def _root_domain_udf():
    @pandas_udf("string")
    def _udf(hosts: pd.Series) -> pd.Series:
        return hosts.map(root_domain)

    return _udf


def root_domain_udf(col):
    return _root_domain_udf()(col)


# ---------------------------------------------------------------------------
# Column-expression tier (JVM-side; the 100 TB hot path)
# ---------------------------------------------------------------------------


def canonicalize_url_expr(col: Column) -> Column:
    """Codegen-friendly approximate canonicalizer: lowercase
    scheme/host, strip fragment, strip default :80/:443, strip
    session/utm params. Covers the common-case rules without leaving
    the JVM; route edge-case traffic through canonicalize_url_udf."""
    c = F.trim(col)
    # lowercase scheme+authority, preserve path case
    c = F.concat(
        F.lower(F.regexp_extract(c, r"^([^/]*//[^/]*)", 1)),
        F.regexp_replace(c, r"^[^/]*//[^/]*", ""),
    )
    c = F.regexp_replace(c, r"#(?!!).*$", "")  # fragment (keep #!)
    # strip only the scheme's OWN default port: http:443 / https:80
    # are real non-default ports and must survive
    c = F.regexp_replace(c, r"^(http://[^/:]+):80(/|$)", r"$1$2")
    c = F.regexp_replace(c, r"^(https://[^/:]+):443(/|$)", r"$1$2")
    # matrix params: truncate the path at its first ';' (before any ?)
    c = F.regexp_replace(c, r"^([^?]*?);[^?]*", r"$1")
    sess = "|".join(SESSION_PARAMS)
    c = F.regexp_replace(c, rf"(?i)[?&](?:{sess})=[^&]*", "")
    c = F.regexp_replace(c, r"\?&", "?")
    # stripping a leading '?param' leaves the next param dangling on
    # '&': promote the first '&' to '?' when no '?' precedes it
    c = F.regexp_replace(c, r"^([^?]*)&", "$1?")
    c = F.regexp_replace(c, r"[?&]$", "")
    return c


def ip_to_int_expr(col: Column) -> Column:
    """Dotted-quad -> int32-ish long (util/IPAddressUtils.java
    capability) as pure arithmetic -- no UDF."""
    p = F.split(col, r"\.")
    return (
        p.getItem(0).cast("long") * 16777216
        + p.getItem(1).cast("long") * 65536
        + p.getItem(2).cast("long") * 256
        + p.getItem(3).cast("long")
    )


def int_to_ip_expr(col: Column) -> Column:
    return F.concat_ws(
        ".",
        (col / 16777216).cast("long") % 256,
        (col / 65536).cast("long") % 256,
        (col / 256).cast("long") % 256,
        col.cast("long") % 256,
    )


def surt_key_expr(col: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key -- the sort
    order of web-archive CDX indexes (public webarchive-commons /
    IA wayback convention): lowercase, drop the scheme, strip a
    leading 'www.', reverse the host labels comma-joined, then ')' +
    path-and-query. 'http://www.Example.COM/Path?q=1' ->
    'com,example)/path?q=1'. Pure Column expressions with
    RE2-compatible regexes so the CDX oracle can mirror it verbatim;
    the full IA canonicalizer's session-id stripping lives in
    canonicalize_url_expr and composes in front when wanted. Ports
    are dropped (the synthesized corpus never carries non-default
    ports; IA SURT would keep ':8080' on the last label)."""
    low = F.lower(col)
    host = F.regexp_replace(
        F.regexp_extract(low, r"^[a-z][a-z0-9+.-]*://([^/?#:]+)", 1),
        r"^www\.",
        "",
    )
    path = F.regexp_extract(low, r"^[a-z][a-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    return F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","),
        F.lit(")"),
        F.when(path == "", F.lit("/")).otherwise(path),
    )


_SURT_HOST_RE = re.compile(r"^[a-z][a-z0-9+.-]*://([^/?#:]+)")
_SURT_PATH_RE = re.compile(r"^[a-z][a-z0-9+.-]*://[^/?#]*([^#]*)")


def surt_key(url: str) -> str:
    """`surt_key_expr` for one URL on the driver: the same regexes
    and steps, so a point lookup keys its search without a Spark job.
    Parity with the Column expression is pinned by
    tests/test_cdx_langid.py::test_surt_key_matches_spark_expr."""
    low = url.lower()
    m = _SURT_HOST_RE.match(low)
    host = m.group(1) if m else ""
    if host.startswith("www."):
        host = host[4:]
    m = _SURT_PATH_RE.match(low)
    path = m.group(1) if m else ""
    return ",".join(reversed(host.split("."))) + ")" + (path or "/")


def reverse_host_expr(col: Column) -> Column:
    """Host name -> reversed-label node name ('www.example.com' ->
    'com.example.www'), the public cc-webgraph node-naming convention
    (reversed names make every subdomain of a domain a contiguous
    lexicographic range, so range partitioning co-locates a domain's
    hosts). Lowercases and strips one trailing dot first."""
    low = F.lower(F.regexp_replace(col, r"\.$", ""))
    return F.array_join(F.reverse(F.split(low, r"\.")), ".")


def root_domain_expr(col: Column) -> Column:
    """eTLD+1 (registered domain) as a PURE Column expression -- the
    JVM-side twin of `root_domain` above (util/URLUtils.java:737
    capability), for 100 TB host-rollup scans where a pandas UDF hop
    per row would dominate.

    The PSL table (functions/psl.py) compiles into the plan as ONE
    pipe-delimited string literal per suffix label count, probed
    with `contains('|'||candidate||'|')` -- deliberately NOT an
    `isin` over ~300 literals: the composed webgraph plans evaluate
    this expression several times per row after projection collapse,
    and the In-list variant made the whole-stage-codegen method
    exceed janino's 64 KB limit (interpreted fallback). A constant
    blob + one indexOf stays a few bytes of generated code however
    often the tree is duplicated. Matching rules are identical to
    psl.suffix_label_count: longest explicit suffix wins (3 labels
    before 2), wildcard TLDs make the last two labels a suffix
    unless an exception names that child. Parity with the Python
    kernel is pinned by
    tests/test_webgraph.py::test_root_domain_expr_matches_python.
    """
    by_len: dict[int, list[str]] = {2: [], 3: []}
    for s in psl.PUBLIC_SUFFIXES:
        by_len[s.count(".") + 1].append(s)

    def _blob(entries) -> Column:
        return F.lit("|" + "|".join(sorted(entries)) + "|")

    def _probe(entries, candidate: Column) -> Column:
        return F.contains(
            _blob(entries), F.concat(F.lit("|"), candidate, F.lit("|"))
        )

    low = F.lower(F.regexp_replace(col, r"\.$", ""))
    labels = F.split(low, r"\.")
    n = F.size(labels)
    # F.get is 0-based and null-safe out of bounds (ANSI-proof,
    # unlike element_at with negative indexes)
    last1 = F.get(labels, n - 1)
    last2 = F.concat_ws(".", F.get(labels, n - 2), last1)
    last3 = F.concat_ws(".", F.get(labels, n - 3), last2)
    sl = (
        F.when((n >= 3) & _probe(by_len[3], last3), F.lit(3))
        .when((n >= 2) & _probe(by_len[2], last2), F.lit(2))
        .otherwise(F.lit(1))
    )
    sl = F.when(
        _probe(psl.WILDCARD_TLDS, last1),
        F.when(
            (n >= 2) & _probe(psl.WILDCARD_EXCEPTIONS, last2),
            F.lit(1),
        ).otherwise(F.greatest(sl, F.lit(2))),
    ).otherwise(sl)
    return F.when(n <= sl, low).otherwise(
        F.array_join(F.slice(labels, n - sl, sl + 1), ".")
    )


def root_domain_rev_expr(col: Column) -> Column:
    """eTLD+1 in REVERSED-name space: input and output are
    reversed-label node names ('com.example.www' -> 'com.example').
    In reversed form the public suffix is a PREFIX, so the collapse
    needs no unreverse/re-reverse round trip -- the webgraph domain
    rollup applies this directly to host-graph node names, keeping
    the codegen'd expression tree an order of magnitude smaller than
    reverse_host_expr(root_domain_expr(unreverse(x))) (which blew
    janino's 64 KB method limit when duplicated across groupBy
    keys). Same PSL rules as root_domain_expr; parity between the
    two forms is pinned by
    tests/test_webgraph.py::test_root_domain_rev_matches_forward.
    Assumes the input is already lowercased (reverse_host_expr
    output always is)."""

    def _rev(s: str) -> str:
        return ".".join(reversed(s.split(".")))

    def _probe(entries, candidate: Column) -> Column:
        blob = "|" + "|".join(sorted(_rev(s) for s in entries)) + "|"
        return F.contains(
            F.lit(blob), F.concat(F.lit("|"), candidate, F.lit("|"))
        )

    by_len: dict[int, list[str]] = {2: [], 3: []}
    for s in psl.PUBLIC_SUFFIXES:
        by_len[s.count(".") + 1].append(s)
    labels = F.split(col, r"\.")
    n = F.size(labels)
    first1 = F.get(labels, 0)
    first2 = F.concat_ws(".", first1, F.get(labels, 1))
    first3 = F.concat_ws(".", first2, F.get(labels, 2))
    sl = (
        F.when((n >= 3) & _probe(by_len[3], first3), F.lit(3))
        .when((n >= 2) & _probe(by_len[2], first2), F.lit(2))
        .otherwise(F.lit(1))
    )
    sl = F.when(
        _probe(psl.WILDCARD_TLDS, first1),
        F.when(
            (n >= 2) & _probe(psl.WILDCARD_EXCEPTIONS, first2),
            F.lit(1),
        ).otherwise(F.greatest(sl, F.lit(2))),
    ).otherwise(sl)
    return F.when(n <= sl, col).otherwise(
        F.array_join(F.slice(labels, 1, sl + 1), ".")
    )


def idna_host(host: str | None) -> str | None:
    """IDN host -> ASCII-compatible encoding (punycode per label,
    RFC 3490 via Python's idna codec): the canonicalization real-web
    hostnames need before SURT keys, PSL collapse, or DNS. Lowercase
    + trailing-dot strip first (same normalization as root_domain);
    already-ASCII labels pass through; labels the codec rejects are
    kept verbatim (a crawler indexes the bytes it saw rather than
    dropping the record)."""
    if not host:
        return None
    host = host.lower().rstrip(".")
    out = []
    for label in host.split("."):
        if all(ord(c) < 128 for c in label):
            out.append(label)
            continue
        try:
            out.append(label.encode("idna").decode("ascii"))
        except (UnicodeError, UnicodeDecodeError):
            out.append(label)
    return ".".join(out)


def _idna_host_udf():
    @pandas_udf("string")
    def _udf(hosts: pd.Series) -> pd.Series:
        return hosts.map(idna_host)

    return _udf


def idna_host_udf(col):
    """Arrow-batched IDN->punycode canonicalization (the Python idna
    codec is algorithmic -- bootstring arithmetic -- so this is the
    one URL-layer step that stays a pandas UDF)."""
    return _idna_host_udf()(col)

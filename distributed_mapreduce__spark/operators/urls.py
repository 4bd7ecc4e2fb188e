"""URL / domain curation (web-corpus scrubbing surface).

Web-crawl corpora are keyed by URL, and the standard curation passes
(C4, RefinedWeb, Dolma pipelines) all start the same way: canonicalize
the URL, extract the registered domain, then (a) dedup by canonical
URL, (b) drop blocklisted domains, (c) cap documents per domain so a
single forum dump can't dominate the mixture. This module is those
passes as pure column algebra.

Parsing is ``regexp_extract`` on patterns restricted to the Java∩RE2
subset (no lookaround, no backreferences) so every operator is
DuckDB-oracle-checkable — the same portability discipline as
:mod:`.pii`. We deliberately do NOT use Spark's ``parse_url`` (Java
URI semantics have no DuckDB analog, and a cross-engine oracle is
worth more than edge-case URI pedantry for curation purposes).

Registered-domain extraction is the public-suffix heuristic: the last
two host labels, or the last three when the last two form a well-known
multi-label suffix (co.uk, com.au, ...). A production pipeline would
broadcast the full Mozilla public-suffix list as a dimension table —
the join shape is identical; the embedded set keeps the operator
self-contained and oracle-portable.

Scale: parse/canonicalize/domain are one projection (zero shuffle);
``url_dedup`` and ``domain_caps`` shuffle on a short string key
(canonical URL / domain); ``blocklist_filter`` broadcasts the
blocklist (tiny) for an anti-join. All linear at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_frame

#: scheme://host[:port]/path[?query][#fragment] — each piece extracted
#: by group from the same anchored pattern in both engines.
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)"
_PORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/:?#]+:(\d+)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)"
_QUERY_RE = r"\?([^#]*)"

#: Multi-label public suffixes for the registered-domain heuristic.
#: Production: broadcast-join the full public-suffix list instead —
#: that form is :func:`registered_domain_psl` below.
MULTI_SUFFIXES: tuple[str, ...] = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.kr", "co.nz", "co.za",
)

#: Embedded snapshot of the Mozilla Public Suffix List (publicsuffix.org,
#: MPL-2.0; data, not code) — single-label TLDs are implied by the PSL's
#: default "*" rule and omitted here. Every entry is a VERBATIM PSL rule
#: (round 6 dropped bare amazonaws.com/windows.net/fastly.net — the real
#: list only carries deeper entries for those providers, so keeping the
#: bare forms silently coarsened eTLD+1 grouping vs a real dump). The
#: snapshot covers the ICANN multi-label suffixes above plus the
#: high-traffic PRIVATE-section entries crawl data actually hits
#: (github.io, blogspot.com, ...); for production load the full
#: ~10k-rule dat file through :func:`load_psl_dat` — the compile path
#: and cost are identical.
PSL_SNAPSHOT: tuple[str, ...] = MULTI_SUFFIXES + (
    # ICANN section (multi-label)
    "com.ar", "com.tr", "com.tw", "com.sg", "com.my", "com.hk", "com.vn",
    "co.id", "co.th", "co.il", "ac.jp", "go.jp", "gov.in", "nic.in",
    "edu.au", "gov.au", "ac.nz", "govt.nz", "org.nz", "net.nz",
    "or.kr", "go.kr", "ne.kr", "com.ua", "org.ua", "in.ua",
    # private section (infrastructure / hosting suffixes)
    "github.io", "githubusercontent.com", "gitlab.io", "blogspot.com",
    "wordpress.com", "tumblr.com", "netlify.app", "vercel.app",
    "herokuapp.com", "appspot.com", "web.app", "firebaseapp.com",
    "pages.dev", "workers.dev", "azurewebsites.net", "cloudfront.net",
    "s3.amazonaws.com", "elasticbeanstalk.com",
    "readthedocs.io", "neocities.org", "wixsite.com", "weebly.com",
    "github.dev", "glitch.me",
    # wildcard + exception rule examples (verbatim from the PSL)
    "*.ck", "!www.ck", "*.bd", "*.kawasaki.jp", "!city.kawasaki.jp",
)


def load_psl_dat(text: str, sections: Sequence[str] = ("icann", "private")) -> list[str]:
    """Parse a raw publicsuffix.org ``public_suffix_list.dat`` into the
    rule list :func:`registered_domain_psl` consumes — so shipping the
    FULL list is a file read, not a code change:

    >>> rules = load_psl_dat(open("public_suffix_list.dat").read())
    >>> parse_urls(df, psl=rules)

    Format per publicsuffix.org: one rule per line, ``//`` comment
    lines, the first token of a line is the rule (trailing inline text
    after whitespace is ignored), wildcard (``*.``) and exception
    (``!``) markers pass through verbatim. ``sections`` filters on the
    ICANN/PRIVATE markers (``// ===BEGIN ICANN DOMAINS===`` /
    ``// ===END ...===``); rules outside any marked section are always
    kept, so a bare rule file without markers parses whole. The PSL is
    already punycode-encoded — no IDNA handling needed; lower-cased on
    the way in like every suffix the compiler sees."""
    keep = {s.lower() for s in sections}
    rules: list[str] = []
    current: str | None = None
    for raw in text.splitlines():
        line = raw.strip()
        if not line:
            continue
        if line.startswith("//"):
            m = line.replace(" ", "").lower()
            if "===begin" in m:
                current = "icann" if "icann" in m else (
                    "private" if "private" in m else current
                )
            elif "===end" in m:
                current = None
            continue
        if current is not None and current not in keep:
            continue
        rules.append(line.split()[0].lower())
    return rules


#: memoized full-list rules (default sections), loaded once per process
_FULL_PSL_CACHE: list[str] | None = None


def full_psl(sections: Sequence[str] = ("icann", "private")) -> list[str]:
    """The COMPLETE publicsuffix.org rule list (~9.5k rules), vendored
    as package data (``data/public_suffix_list.dat`` — public MPL-2.0
    *data*, the stock snapshot Debian ships in its ``publicsuffix``
    package) and parsed through :func:`load_psl_dat`. Pass the result
    as ``psl=`` to :func:`registered_domain_psl` / :func:`parse_urls`
    for production-grade eTLD+1 grouping; the embedded
    :data:`PSL_SNAPSHOT` remains the no-IO default for the oracle
    queries. Memoized for the default sections (the parse is a few ms,
    but the compile path may be hit per-query)."""
    global _FULL_PSL_CACHE
    default = tuple(sections) == ("icann", "private")
    if default and _FULL_PSL_CACHE is not None:
        return _FULL_PSL_CACHE
    from importlib import resources

    text = (
        resources.files("distributed_mapreduce__spark")
        .joinpath("data/public_suffix_list.dat")
        .read_text(encoding="utf-8")
    )
    rules = load_psl_dat(text, sections=sections)
    if default:
        _FULL_PSL_CACHE = rules
    return rules


def registered_domain_psl(
    host: Column, psl: "DataFrame | Sequence[str] | None" = None
) -> Column:
    """eTLD+1 via LONGEST-MATCH against the public-suffix list — the
    production form of :func:`registered_domain` (which the oracle
    queries keep for cross-engine parity).

    ``psl`` is the suffix list: a sequence of strings, a DataFrame
    whose first column holds the suffixes (a loaded publicsuffix.org
    dump — it is a dimension table, and collecting ~10k short strings
    driver-side is exactly what broadcasting it would do), or None for
    the embedded :data:`PSL_SNAPSHOT`.

    Semantics follow publicsuffix.org's algorithm for exact rules: the
    registered domain is the longest matching public suffix plus the
    label before it; when NO rule matches, the default ``*`` rule
    applies (suffix = last label → domain = last two labels) — which is
    the two-label branch of the heuristic. Hosts that ARE a public
    suffix, or a single label, pass through unchanged. All three PSL
    rule types are modeled: exact (``co.uk``), wildcard (``*.ck`` —
    one host label stands in for the ``*``), and exception
    (``!www.ck`` — overrides a wildcard: the suffix is the rule minus
    its leftmost label, making that host registrable).

    Plan shape: the rules compile per label-depth (bounded: the PSL's
    deepest rule is 5 labels) into ``isin`` tests that Catalyst turns
    into O(1) hash-set probes (InSet) inside the projection — ZERO
    joins, zero shuffles, no explode. This deliberately improves on the
    explode + broadcast-join formulation: same broadcast-a-dimension
    cost model, but the lookup rides the existing projection and can't
    destabilize under recomputation (no synthetic row ids)."""
    if psl is None:
        suffixes: Sequence[str] = PSL_SNAPSHOT
    elif isinstance(psl, DataFrame):
        suffixes = [r[0] for r in psl.collect()]
    else:
        suffixes = psl

    exact: dict[int, list[str]] = {}
    wild: dict[int, list[str]] = {}  # effective depth -> literal tails
    excs: list[str] = []
    for s in suffixes:
        s = s.strip().lower()
        if not s or s.startswith("/"):
            continue
        if s.startswith("!"):
            excs.append(s[1:])
        elif s.startswith("*."):
            tail = s[2:]
            wild.setdefault(tail.count(".") + 2, []).append(tail)
        else:
            exact.setdefault(s.count(".") + 1, []).append(s)

    labels = F.split(host, r"\.")
    n = F.size(labels)
    # longest match: ascending depth order, later (deeper) wins; the
    # same conditions with n == d detect a host that IS a suffix (which
    # has no eTLD+1 and must pass through unchanged — without this, a
    # 3+-label wildcard suffix like 'y.kawasaki.jp' would be truncated
    # by the default rule)
    depth = F.lit(1)  # the PSL default "*" rule
    is_suffix = F.lit(False)
    for d in sorted(set(exact) | set(wild)):
        cond = F.lit(False)
        whole = F.lit(False)
        if d in exact:
            last_d = F.concat_ws(".", F.slice(labels, n - d + 1, F.lit(d)))
            # host must be STRICTLY longer than the suffix for an eTLD+1
            cond = cond | ((n > d) & last_d.isin(exact[d]))
            whole = whole | ((n == d) & last_d.isin(exact[d]))
        if d in wild:
            # '*' consumes one host label; the literal tail is d-1 deep
            tail_d = F.concat_ws(".", F.slice(labels, n - d + 2, F.lit(d - 1)))
            cond = cond | ((n > d) & tail_d.isin(wild[d]))
            whole = whole | ((n == d) & tail_d.isin(wild[d]))
        depth = F.when(cond, F.lit(d)).otherwise(depth)
        is_suffix = is_suffix | whole
    for e in excs:
        # an exception that matches IS the prevailing rule: the suffix
        # is the rule minus its leftmost label (depth - 1)
        d_exc = e.count(".") + 1
        last_e = F.concat_ws(".", F.slice(labels, n - d_exc + 1, F.lit(d_exc)))
        depth = F.when((n >= d_exc) & (last_e == e), F.lit(d_exc - 1)).otherwise(depth)
    dom_n = F.least(depth + 1, n)
    domain = F.concat_ws(".", F.slice(labels, n - dom_n + 1, dom_n))
    return F.when((n <= 1) | is_suffix, host).otherwise(domain)

#: Query parameters that never change page content — stripped during
#: canonicalization (analytics/click-tracking junk). Applied to the
#: QUERY STRING ONLY (the part after the first ``?``), anchored on
#: start-of-query or ``&`` (kept via group ref) so ``href=`` can't
#: match the ``ref`` alternative mid-name — and so an ``&`` inside a
#: query-less path (``/a&ref=b``) is never mutated.
TRACKING_PARAM_RE = r"(^|&)(utm_[a-z]+|fbclid|gclid|msclkid|ref)=[^&#]*"


def url_scheme(col: Column | str) -> Column:
    """Lower-cased scheme, '' when the value isn't scheme://-shaped."""
    return F.lower(F.regexp_extract(col, _SCHEME_RE, 1))


def url_host(col: Column | str) -> Column:
    """Lower-cased host (no port), '' when unparseable."""
    return F.lower(F.regexp_extract(col, _HOST_RE, 1))


def url_path(col: Column | str) -> Column:
    """Path starting with '/', or '' when absent."""
    return F.regexp_extract(col, _PATH_RE, 1)


def url_query(col: Column | str) -> Column:
    """Query string (no '?'), '' when absent."""
    return F.regexp_extract(col, _QUERY_RE, 1)


def registered_domain(host: Column) -> Column:
    """eTLD+1 heuristic from a lower-cased host column.

    Last two labels, or last three when the last two are a known
    multi-label suffix; hosts with <2 labels (``localhost``, IPs are
    out of scope) pass through unchanged.
    """
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    last3 = F.concat_ws(
        ".", F.element_at(parts, -3), F.element_at(parts, -2), F.element_at(parts, -1)
    )
    is_multi = last2.isin(*MULTI_SUFFIXES)
    return (
        F.when(n <= 2, host)
        .when((n >= 3) & is_multi, last3)
        .otherwise(last2)
    )


def canonical_url(col: Column | str) -> Column:
    """Canonical form for dedup keys, as one chained expression:

    1. strip the ``#fragment`` (pure client-side),
    2. strip tracking params (``utm_*``, ``fbclid``, ...) from the
       query string ONLY — the URL is split at the first ``?`` and the
       cleanup runs on the query part, so an ``&`` inside a query-less
       path (``/a&ref=b``) is never mutated — collapsing leftover
       ``&&``/leading/trailing ``&`` separators,
    3. lower-case scheme and host (path/query stay case-sensitive),
    4. drop default ports (``:80`` for http, ``:443`` for https),
    5. drop a bare trailing ``/`` directly after the host.
    """
    c = F.regexp_replace(col, r"#.*$", "")
    head = F.regexp_replace(c, r"\?.*$", "")
    query = F.regexp_extract(c, r"\?(.*)$", 1)
    q = F.regexp_replace(query, TRACKING_PARAM_RE, r"$1")
    q = F.regexp_replace(q, r"^&+", "")
    q = F.regexp_replace(q, r"&&+", "&")
    q = F.regexp_replace(q, r"&+$", "")
    c = F.when(q == "", head).otherwise(F.concat(head, F.lit("?"), q))
    # Lower-case scheme://host while leaving the rest intact: rebuild
    # from extracted parts + the original tail after the authority.
    scheme = F.lower(F.regexp_extract(c, _SCHEME_RE, 1))
    authority = F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    tail = F.regexp_replace(c, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    lowered = F.concat(scheme, F.lit("://"), F.lower(authority), tail)
    c = F.when(scheme == "", c).otherwise(lowered)
    c = F.regexp_replace(c, r"^(http://[^/:?#]+):80(/|$|\?)", r"$1$2")
    c = F.regexp_replace(c, r"^(https://[^/:?#]+):443(/|$|\?)", r"$1$2")
    c = F.regexp_replace(c, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)/$", r"$1")
    return c


def parse_urls(
    df: DataFrame, url_col: str = "url", psl: object = None
) -> DataFrame:
    """Add (scheme, host, domain, path, query, canonical) — one
    projection, zero shuffle.

    ``psl``: None (default) extracts ``domain`` with the portable
    17-suffix heuristic (oracle-checkable); ``"snapshot"`` uses the
    embedded PSL snapshot; a sequence/DataFrame of suffixes uses that
    list (:func:`registered_domain_psl` — still one projection)."""
    host = url_host(F.col(url_col))
    if psl is None:
        domain = registered_domain(host)
    else:
        domain = registered_domain_psl(host, None if psl == "snapshot" else psl)
    return df.select(
        "*",
        url_scheme(F.col(url_col)).alias("scheme"),
        host.alias("host"),
        domain.alias("domain"),
        url_path(F.col(url_col)).alias("path"),
        url_query(F.col(url_col)).alias("query"),
        canonical_url(F.col(url_col)).alias("canonical"),
    )


def url_dedup(df: DataFrame, url_col: str = "url", tie_col: str = "doc_id") -> DataFrame:
    """One row per canonical URL — the min-``tie_col`` row wins, so the
    survivor is deterministic under retries (same discipline as
    :mod:`.dedup`). One shuffle on the canonical key."""
    from .relational import top_k_per_group

    withc = df.withColumn("_canon", canonical_url(F.col(url_col)))
    return (
        top_k_per_group(withc, ["_canon"], [F.asc(tie_col)], k=1, rn_col="_rn")
        .drop("_canon", "_rn")
    )


def blocklist_filter(
    df: DataFrame, blocked_domains: Sequence[str], url_col: str = "url"
) -> DataFrame:
    """Drop rows whose registered domain is blocklisted.

    The blocklist ships as a broadcast DataFrame anti-join (not a giant
    ``isin`` literal): correct plan shape for real blocklists with
    millions of entries, zero extra shuffle of the corpus."""
    spark = df.sparkSession
    blk = local_frame(
        spark, [(d.lower(),) for d in blocked_domains], "domain_blocked string"
    )
    withd = df.withColumn("_dom", registered_domain(url_host(F.col(url_col))))
    return (
        withd.join(
            F.broadcast(blk),
            withd["_dom"] == blk["domain_blocked"],
            "left_anti",
        ).drop("_dom")
    )


def domain_caps(
    df: DataFrame, cap: int, url_col: str = "url", seed: int = 0,
    key_col: str = "doc_id",
) -> DataFrame:
    """At most ``cap`` documents per registered domain, chosen in
    content-hash order (stable under retries and corpus growth) — the
    single-domain-dominance guard every crawl pipeline applies.
    Delegates to :func:`.sampling.stratified_quota`: one shuffle on the
    domain key."""
    from .sampling import stratified_quota

    withd = df.withColumn("_dom", registered_domain(url_host(F.col(url_col))))
    return stratified_quota(withd, ["_dom"], key_col, cap, seed=seed).drop("_dom")

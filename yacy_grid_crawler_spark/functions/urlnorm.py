"""URL canonicalization + classification kernels (pure Python).

This module is the *executable specification* for the equality-critical
URL normal form. The reference delegates to ``MultiProtocolURL`` /
``Digest`` in the (unvendored) yacy_grid_mcp submodule; the observable
contract at the call sites is:

* ``new MultiProtocolURL(u)`` throws on malformed input → the URL is
  dropped (links) or diverted to ``badURLStrings`` (seeds)
  [reference: CrawlerListener.java:126-129, 286-292]
* ``url.toNormalform(true)`` strips the fragment and produces a proper
  percent-encoded normal form [reference: conf/config.properties:26-28]
* ``Digest.encodeMD5Hex(normalform)`` is the URL id used for every
  seen-set / status-table key
  [reference: CrawlerListener.java:308-309, 436; CrawlStartService.java:142]
* ``url.getContentDomainFromExt()`` classifies by file extension; only
  TEXT or ALL survive the crawl [reference: CrawlerListener.java:304-306]
* ``Domains.getSmartSLD(host)`` extracts a "smart second-level domain"
  [reference: CrawlStartService.java:115,119]

Since the submodule is not vendored, THIS file (not Java code) is the
authoritative spec. The Spark engine (via pandas UDFs in udfs.py) and
the pure-Python oracle (oracle/spec.py) both import exactly these
functions, so engine/oracle drift is impossible by construction.

Everything here is written to be vectorization-friendly: plain str ops,
no regex backtracking blowups, and module-level constant tables.
"""

from __future__ import annotations

import hashlib
import posixpath
from urllib.parse import quote, unquote

# ---------------------------------------------------------------------------
# schemes / ports
# ---------------------------------------------------------------------------

SUPPORTED_SCHEMES = frozenset({"http", "https", "ftp"})

DEFAULT_PORTS = {"http": 80, "https": 443, "ftp": 21}

# ---------------------------------------------------------------------------
# extension → content domain
# the reference keeps only TEXT or ALL (CrawlerListener.java:304-306);
# the default mustnotmatch regex lists the media extensions
# (CrawlerDefaultValuesService.java:55). Unknown/absent extension → ALL.
# ---------------------------------------------------------------------------

TEXT_EXTS = frozenset(
    {
        "html",
        "htm",
        "xhtml",
        "shtml",
        "php",
        "asp",
        "aspx",
        "jsp",
        "txt",
        "text",
        "md",
        "xml",
        "rss",
        "atom",
        "json",
        "csv",
        "tsv",
        "pdf",
        "doc",
        "docx",
        "odt",
        "rtf",
    }
)

IMAGE_EXTS = frozenset(
    {"jpg", "jpeg", "png", "gif", "bmp", "ico", "svg", "tif", "tiff", "webp"}
)
AUDIO_EXTS = frozenset({"mp3", "ogg", "oga", "wav", "flac", "aac", "m4a", "wma"})
VIDEO_EXTS = frozenset(
    {"mp4", "avi", "mkv", "mov", "wmv", "flv", "webm", "mpg", "mpeg", "m4v", "3gp"}
)
APP_EXTS = frozenset(
    {
        "exe",
        "msi",
        "dmg",
        "apk",
        "jar",
        "zip",
        "gz",
        "tgz",
        "bz2",
        "xz",
        "7z",
        "rar",
        "tar",
        "iso",
        "bin",
        "swf",
        "class",
        "deb",
        "rpm",
    }
)

_EXT_DOMAIN: dict[str, str] = {}
for _e in TEXT_EXTS:
    _EXT_DOMAIN[_e] = "text"
for _e in IMAGE_EXTS:
    _EXT_DOMAIN[_e] = "image"
for _e in AUDIO_EXTS:
    _EXT_DOMAIN[_e] = "audio"
for _e in VIDEO_EXTS:
    _EXT_DOMAIN[_e] = "video"
for _e in APP_EXTS:
    _EXT_DOMAIN[_e] = "app"

# unreserved characters per RFC 3986 — percent-encodings of these are
# decoded during normalization; everything else is left encoded with
# uppercase hex digits.
_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)


def _norm_pct(component: str, safe: str) -> str:
    """Normalize percent-encoding: decode unreserved, uppercase hex,
    re-encode anything that must stay encoded."""
    # round-trip: fully decode then re-quote with a stable safe set.
    try:
        decoded = unquote(component, errors="strict")
    except Exception:
        return component  # undecodable sequences: leave as-is
    return quote(decoded, safe=safe)


def canonicalize_url(raw: str | None) -> str | None:
    """The URL normal form. Returns None for malformed input
    (spec for ``MultiProtocolURL`` parse failure → drop,
    CrawlerListener.java:286-292).

    Rules (the engine-authoritative spec, SURVEY.md §7 "What's hard"):
      1. strip surrounding whitespace; scheme-less input gets ``http://``
      2. lowercase scheme and host; reject schemes outside http/https/ftp
      3. strip the fragment (conf/config.properties:27-28)
      4. strip default port (80/443/21); reject unparseable ports
      5. resolve ``.``/``..`` path segments; empty path → ``/``
      6. percent-encoding normal form (decode unreserved, uppercase hex)
      7. keep the query string verbatim modulo percent normalization;
         a trailing ``?`` with empty query is dropped
    """
    if raw is None:
        return None
    u = raw.strip()
    if not u or any(c in u for c in (" ", "\t", "\n", "\r")):
        # inner whitespace is malformed (seed splitter already split on it)
        if not u:
            return None
        return None
    # 1. scheme
    scheme_sep = u.find("://")
    if scheme_sep < 0:
        if u.startswith(("mailto:", "javascript:", "data:", "about:", "tel:")):
            return None
        # scheme-less input must look like a hostname: a dot, an
        # explicit port, or localhost — bare words are malformed
        head = u.split("/", 1)[0]
        if "." not in head and ":" not in head and head.lower() != "localhost":
            return None
        scheme, rest = "http", u
    else:
        scheme, rest = u[:scheme_sep].lower(), u[scheme_sep + 3 :]
    if scheme not in SUPPORTED_SCHEMES:
        return None
    # 2. split authority / path?query#fragment
    path_start = len(rest)
    for ch in "/?#":
        i = rest.find(ch)
        if i >= 0:
            path_start = min(path_start, i)
    authority, tail = rest[:path_start], rest[path_start:]
    if not authority:
        return None
    # userinfo (kept verbatim, lowercased host only)
    userinfo = ""
    if "@" in authority:
        userinfo, authority = authority.rsplit("@", 1)
        userinfo += "@"
    host, port = authority, None
    if ":" in authority:
        host, port_s = authority.rsplit(":", 1)
        if port_s == "":
            port = None
        else:
            if not port_s.isdigit():
                return None
            port = int(port_s)
            if port <= 0 or port > 65535:
                return None
    host = host.lower().strip(".")
    # ':' can only survive into host from a multi-colon authority
    # ('http://::' parsed host=':' then round-tripped to None —
    # hypothesis-found); bracketed IPv6 is unsupported, so reject
    if not host or ".." in host or ":" in host:
        return None
    if port == DEFAULT_PORTS[scheme]:
        port = None
    # 3/7. split off fragment, then query
    frag_i = tail.find("#")
    if frag_i >= 0:
        tail = tail[:frag_i]
    q_i = tail.find("?")
    if q_i >= 0:
        path, query = tail[:q_i], tail[q_i + 1 :]
    else:
        path, query = tail, None
    # 5. path normalization
    if not path:
        path = "/"
    else:
        # WHATWG dot-segment mapping BEFORE resolution: a segment
        # whose '%2e'-decoded form is exactly '.' or '..' IS a dot
        # segment ('%2E', '.%2e', '%2e.', '%2e%2e', any case).
        # Without this, rule 6's percent decode turns '/%2E' into a
        # literal '/.' AFTER resolution — a second canonicalize pass
        # would resolve it, breaking idempotence (hypothesis-found:
        # 'http://A0/%2E' -> 'http://a0/.' -> 'http://a0/').
        if "%2e" in path.lower():
            segs = path.split("/")
            mapped = []
            for s in segs:
                t = s.lower().replace("%2e", ".")
                mapped.append(t if t in (".", "..") else s)
            path = "/".join(mapped)
        # posixpath.normpath collapses '//' and resolves '.'/'..' but
        # drops trailing '/' — preserve it explicitly.
        trailing = path.endswith("/") and path != "/"
        norm = posixpath.normpath(path)
        if norm.startswith("//"):  # POSIX '//' special case in normpath
            norm = "/" + norm.lstrip("/")
        # normpath('.') == '.', normpath of absolute stays absolute;
        # guard '..' escaping above root
        while norm.startswith("/../"):
            norm = norm[3:]
        if norm in (".", "/.."):
            norm = "/"
        if trailing and not norm.endswith("/"):
            norm += "/"
        path = norm if norm.startswith("/") else "/" + norm
    # 6. percent normal form — PER SEGMENT, with '/' excluded from the
    # safe set: '%2F' is not a segment separator, so its decoded '/'
    # must be RE-encoded ('http://A0/%2F' once decoded whole-path
    # became 'http://a0//', which a second pass collapses — the other
    # hypothesis-found idempotence break of the %-family)
    path = "/".join(
        _norm_pct(seg, safe=":@!$&'()*+,;=~-._")
        for seg in path.split("/")
    )
    out = f"{scheme}://{userinfo}{host}"
    if port is not None:
        out += f":{port}"
    out += path
    if query:
        out += "?" + _norm_pct(query, safe="/:@!$&'()*+,;=?~-._")
    return out


def url_id(normal_form: str) -> str:
    """MD5 hex of the normal form — the universal URL key
    (Digest.encodeMD5Hex, CrawlerListener.java:308-309)."""
    return hashlib.md5(normal_form.encode("utf-8")).hexdigest()


def url_host(normal_form: str) -> str:
    """Host component of an already-canonical URL (cheap split)."""
    rest = normal_form.split("://", 1)[1]
    auth = rest.split("/", 1)[0].split("?", 1)[0]
    if "@" in auth:
        auth = auth.rsplit("@", 1)[1]
    return auth.rsplit(":", 1)[0] if ":" in auth and auth.rsplit(":", 1)[1].isdigit() else auth


def url_ext(normal_form: str) -> str:
    """File extension of the path's last segment, lowercase, '' if none."""
    rest = normal_form.split("://", 1)[1]
    path = rest[rest.find("/") :] if "/" in rest else "/"
    path = path.split("?", 1)[0]
    seg = path.rsplit("/", 1)[-1]
    if "." not in seg:
        return ""
    ext = seg.rsplit(".", 1)[-1].lower()
    return ext if 0 < len(ext) <= 5 and ext.isalnum() else ""


def content_domain(normal_form: str) -> str:
    """'text'|'image'|'audio'|'video'|'app'|'all' from the extension.
    Crawl keeps only {'text','all'} (CrawlerListener.java:304-306)."""
    ext = url_ext(normal_form)
    if not ext:
        return "all"
    return _EXT_DOMAIN.get(ext, "all")


# ---------------------------------------------------------------------------
# smart SLD (Domains.getSmartSLD contract at CrawlStartService.java:115,119)
# ---------------------------------------------------------------------------

# minimal embedded public-suffix sample: two-label suffixes where the
# registrable domain needs three labels. The real MCP class embeds a
# full list; our executable spec pins this subset deterministically.
_TWO_LABEL_SUFFIXES = frozenset(
    {
        "co.uk",
        "org.uk",
        "ac.uk",
        "gov.uk",
        "com.au",
        "net.au",
        "org.au",
        "co.jp",
        "ne.jp",
        "or.jp",
        "com.br",
        "com.cn",
        "com.mx",
        "co.in",
        "co.kr",
        "co.nz",
        "co.za",
    }
)


def smart_sld(host: str) -> str:
    """Registrable-domain heuristic: the label left of the public
    suffix. IPs and single-label hosts return unchanged."""
    h = host.lower().strip(".")
    parts = h.split(".")
    if len(parts) < 2 or all(p.isdigit() for p in parts):
        return h
    if len(parts) >= 3 and ".".join(parts[-2:]) in _TWO_LABEL_SUFFIXES:
        return parts[-3]
    return parts[-2]


# ---------------------------------------------------------------------------
# vectorized fast path (engine hot kernel)
#
# The scalar functions above are the SPEC. At 10^10-URL scale the
# per-string Python call is the single largest wave cost, so the Arrow
# UDFs route each batch through a conservative "already canonical"
# gate: URLs matching _FAST_CANONICAL_RE are provably fixed points of
# canonicalize_url (identity), everything else falls back to the
# scalar spec. Equality fast-vs-spec is pinned by
# tests/test_urlnorm.py (bulk corpus + hypothesis).
#
# The gate is deliberately strict — it must only accept URLs where
# every normalization rule is a no-op:
#   * scheme: lowercase http/https literal        (rule 1/2)
#   * host: lowercase a-z0-9- labels, no leading/trailing/double dots,
#     no userinfo '@', no port ':'                (rules 2, 4)
#   * path: present (non-empty), segments of unreserved chars only
#     (quote() identity set minus '%'), no '.'/'..' segments, no '//'
#                                                  (rules 5, 6)
#   * no '?'/'#' (query/fragment) and no '%' (pct-encoding), no
#     whitespace (excluded by the charsets)        (rules 3, 6, 7)
# ---------------------------------------------------------------------------

import re as _re

# The pattern body is shared char-for-char between Python `re` and
# java.util.regex (char classes, non-capturing groups, lookahead);
# ONLY the end anchor differs per dialect.  `$` is wrong in both
# dialects: it matches before a trailing '\n', so 'http://a.com/x\n'
# would pass the gate verbatim while canonicalize_url strips the
# newline — two different url_ids for the same canonical URL.  The
# absolute-end anchor is spelled `\Z` in Python and `\z` in Java.
def _fast_pattern(end: str) -> str:
    seg = rf"(?:(?!\.{{1,2}}(?:/|{end}))[A-Za-z0-9_\-.~]+)"
    return (
        r"^https?://(?:[a-z0-9][a-z0-9\-]*)(?:\.[a-z0-9][a-z0-9\-]*)*"
        rf"/(?:{seg}(?:/{seg})*/?)?{end}"
    )


FAST_CANONICAL_PATTERN_JVM = _fast_pattern(r"\z")  # java.util.regex
FAST_CANONICAL_PATTERN = FAST_CANONICAL_PATTERN_JVM  # back-compat alias
_FAST_CANONICAL_RE = _re.compile(_fast_pattern(r"\Z"))


# ---------------------------------------------------------------------------
# Tier-2 gate: "canonical except scheme/host CASE and/or a #fragment".
# For URLs matching this gate, canonicalize_url reduces to exactly
#   lower(scheme://host) + path-without-fragment
# because: the path is already in the strict canonical charset (rules
# 5/6 no-ops), there is no port/userinfo/query/percent-encoding, and
# whitespace anywhere makes the spec return None (so the gate excludes
# it everywhere, including inside the fragment). The fix is pure JVM
# string ops — this routes the two most common real-web non-canonical
# shapes (case, fragment) around the Python kernel entirely.
# ---------------------------------------------------------------------------


def _tier2_pattern(end: str) -> str:
    # Unlike tier-1, tier-2 allows a trailing '#fragment', so a path
    # segment can be terminated by '#' as well as '/' or end-of-string.
    # The dot-segment lookahead must therefore exclude '.'/'..' before
    # '#' too — otherwise 'http://h/.#' passes the gate, tier2_fix_jvm
    # keeps '/.', and the spec resolves it to '/' (two url_ids for one
    # canonical URL; seen-set drift).
    seg = rf"(?:(?!\.{{1,2}}(?:/|#|{end}))[A-Za-z0-9_\-.~]+)"
    return (
        r"^(?i:https?://(?:[a-z0-9][a-z0-9\-]*)(?:\.[a-z0-9][a-z0-9\-]*)*)"
        rf"/(?:{seg}(?:/{seg})*/?)?(?:#[^ \t\r\n]*)?{end}"
    )


TIER2_CANONICAL_PATTERN_JVM = _tier2_pattern(r"\z")
_TIER2_CANONICAL_RE = _re.compile(_tier2_pattern(r"\Z"))


def tier2_fix_jvm(url_col):
    """JVM repair for tier-2 URLs: strip from the first '#', lowercase
    the scheme://host head (path case is significant and preserved).
    ONLY valid on rows matching TIER2_CANONICAL_PATTERN — equality
    with canonicalize_url on that subset is pinned by
    tests/test_urlnorm.py::test_tier2_jvm_equals_spec."""
    from pyspark.sql import functions as F

    base = F.substring_index(url_col, "#", 1)
    head = F.substring_index(base, "/", 3)  # scheme://host
    rest = base.substr(F.length(head) + F.lit(1), F.length(base))
    return F.concat(F.lower(head), rest)


def canonicalize_gated(df, raw: str = "url_raw", out: str = "url"):
    """P2 canonicalize of column `raw` into `out` (None for malformed)
    behind the two JVM gates: tier-1 rows (FAST_CANONICAL_PATTERN) are
    already canonical, tier-2 rows are repaired by tier2_fix_jvm, and
    only the residue (ports, dot-segments, pct-encoding, querystrings...)
    pays the Arrow round trip to the `canonicalize` kernel — its input
    is nulled for gated rows, so the transfer carries mostly null
    bitmaps. Equal to canonicalize_url on every row (tests/test_urlnorm.py,
    the wave oracle)."""
    from pyspark.sql import functions as F

    from .udfs import canonicalize

    # `_fast` rides through the Arrow barrier as a real column so the
    # many downstream consumers of `url` reference cheap attributes —
    # inlining the gate regex into the coalesce would re-evaluate it
    # once per consumer (filter predicates get no subexpression
    # elimination)
    fast = F.regexp_like(F.col(raw), F.lit(FAST_CANONICAL_PATTERN))
    t2 = ~F.col("_fast") & F.regexp_like(F.col(raw), F.lit(TIER2_CANONICAL_PATTERN_JVM))
    return (
        df.withColumn("_fast", fast)
        .withColumn("_t2", t2)
        .withColumn(
            "_slow",
            canonicalize(
                F.when(F.col("_fast") | F.col("_t2"), F.lit(None).cast("string"))
                .otherwise(F.col(raw))
            ),
        )
        .withColumn(
            out,
            F.coalesce(
                F.col("_slow"),
                F.when(F.col("_fast"), F.col(raw))
                .when(F.col("_t2"), tier2_fix_jvm(F.col(raw))),
            ),
        )
        .drop("_fast", "_t2", "_slow")
    )
# content-domain extension sniff shared with the JVM the same way
EXT_PATTERN = r"^[a-z]+://[^?]*/[^/?]*\.([A-Za-z0-9]{1,5})(?:\?|$)"

# content-domain extension sniff on a CANONICAL url: the last path
# segment's trailing '.ext' (1-5 alnum chars) before query/end —
# mirrors url_ext()'s rsplit semantics ([^/?]* is greedy, so the
# capture starts after the segment's LAST dot).
_EXT_RE = _re.compile(EXT_PATTERN)


def canonicalize_series(urls):
    """pd.Series[str] -> pd.Series[str|None]: vectorized
    canonicalize_url. Fast-gate identity rows in C, scalar spec for
    the rest."""
    fast = urls.str.match(_FAST_CANONICAL_RE, na=False)
    out = urls.where(fast)
    slow = ~fast
    if slow.any():
        out[slow] = urls[slow].map(canonicalize_url, na_action="ignore")
    return out


def content_domain_series(canon):
    """pd.Series[str] -> pd.Series[str]: vectorized content_domain
    over already-canonical URLs (None propagates)."""
    ext = canon.str.extract(_EXT_RE, expand=False).str.lower()
    dom = ext.map(_EXT_DOMAIN)
    # no extension → 'all'; unknown extension → 'all'; null url → null
    dom = dom.where(ext.notna(), "all")
    dom = dom.fillna("all")
    return dom.where(canon.notna())


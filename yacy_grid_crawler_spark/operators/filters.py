"""F1/F2/F4/F6 + RB — the filter stack.

Cost-ordered cheap→expensive exactly like the reference's hand-placed
predicate chain (CrawlerListener.java:302-356, cost comments :338,
:349-352): content-domain → seen-set → mustmatch → blacklist → robots
→ persistent exist-check. Catalyst reorders conjunctive predicates but
treats UDFs as opaque, so the pipeline preserves this order
structurally (SURVEY.md §4).

All profile regexes use ANCHORED full-match semantics
(Matcher.matches(), CrawlerListener.java:330-336) — Spark `rlike` is
find-semantics, so patterns are wrapped ``^(?:p)$``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def anchored(pattern: str) -> str:
    """Java Matcher.matches() ≡ rlike with explicit anchors."""
    return f"^(?:{pattern})$"


def full_match(col: Column, pattern: str) -> Column:
    """JVM-side anchored regex match (whole-stage codegen; no Python)."""
    return col.rlike(anchored(pattern))


# spec-exact JVM classification over an already-CANONICAL url — the
# wave's hot path (whole-stage codegen, zero Python). Built from
# substring_index primitives instead of a full-URL regexp_extract
# (~2μs/row → ~0.3μs/row; the only regex left runs on the ≤5-char
# extension candidate). Equality with urlnorm.url_ext/content_domain
# is pinned by tests/test_urlnorm.py, the JVM dialect guard in
# tests/test_operators.py, and the wave oracle.
def content_domain_jvm(url_col: Column) -> Column:
    from ..functions.urlnorm import _EXT_DOMAIN

    # Expression-count discipline: this column gets INLINED into filter
    # predicates (no subexpression elimination there), so every named
    # piece below is referenced the minimum number of times — the
    # classification is ONE map lookup (`element_at`), not a when-chain
    # that would re-evaluate the extraction per branch (measured 5×
    # slower when inlined into the wave's F1 filter).
    seg = F.substring_index(F.substring_index(url_col, "?", 1), "/", -1)
    ext = F.lower(F.substring_index(seg, ".", -1))
    # one parsed map literal: a create_map of F.lit pairs costs one
    # py4j round trip per entry on every plan build
    dom_map = F.expr(
        "map("
        + ", ".join(f"'{k}', '{_EXT_DOMAIN[k]}'" for k in sorted(_EXT_DOMAIN))
        + ")"
    )
    valid = (F.instr(seg, ".") > 0) & ext.rlike("^[a-z0-9]{1,5}$")
    return F.when(url_col.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(valid, F.coalesce(F.element_at(dom_map, ext), F.lit("all")))
        .otherwise(F.lit("all"))
    )


# extension classification as a pure-SQL expression — used by the
# oracle_sql()-checkable query variants (same table as the kernel,
# functions/urlnorm.py TEXT/IMAGE/... sets must stay in sync).
def content_domain_sql(url_col: Column) -> Column:
    from ..functions.urlnorm import (
        APP_EXTS,
        AUDIO_EXTS,
        IMAGE_EXTS,
        TEXT_EXTS,
        VIDEO_EXTS,
    )

    ext = F.lower(
        F.regexp_extract(url_col, r"/[^/?]*\.([A-Za-z0-9]{1,5})(?:\?[^?]*)?$", 1)
    )
    return (
        F.when(ext == "", F.lit("all"))
        .when(ext.isin(sorted(TEXT_EXTS)), F.lit("text"))
        .when(ext.isin(sorted(IMAGE_EXTS)), F.lit("image"))
        .when(ext.isin(sorted(AUDIO_EXTS)), F.lit("audio"))
        .when(ext.isin(sorted(VIDEO_EXTS)), F.lit("video"))
        .when(ext.isin(sorted(APP_EXTS)), F.lit("app"))
        .otherwise(F.lit("all"))
    )


def mustmatch_verdict(url_col: Column, mustmatch: str, mustnotmatch: str) -> Column:
    """F2 — True where the URL passes mustmatch AND NOT mustnotmatch
    (CrawlerListener.java:330-336). Empty mustnotmatch never matches
    (the reference compiles '' which full-matches nothing non-empty).

    The default profile ships mustmatch='.*' — anchored '.*'
    full-matches every (newline-free, i.e. every canonical) URL, so
    the match-everything patterns skip the per-row regex entirely."""
    if mustmatch in ("", ".*", "^(?:.*)$", ".*$", "^.*"):
        ok = F.lit(True)
    else:
        ok = full_match(url_col, mustmatch)
    if mustnotmatch:
        ok = ok & ~full_match(url_col, mustnotmatch)
    return ok


def do_index_verdict(
    url_col: Column, indexmustmatch: str, indexmustnotmatch: str
) -> Column:
    """F4 — index/noindex steering flag (CrawlerListener.java:368-384):
    a projection, not a partition split; both branches still crawl."""
    return mustmatch_verdict(url_col, indexmustmatch, indexmustnotmatch)


def collections_verdict(url_col: Column, collections: dict[str, str]) -> Column:
    """Per-URL collection membership: array of the collection names
    whose patterns full-match the URL (anchored, Matcher.matches
    semantics). The crawler itself stamps only the name set on status
    docs (keySet(), CrawlerListener.java:322) — config.
    parse_collections + the wave handle that; THIS is the downstream
    per-URL pattern match the indexer applies when routing documents
    into collections (the patterns the parser at :257-258 compiles).
    A handful of JVM rlike predicates — codegen, no Python."""
    if not collections:
        return F.array().cast("array<string>")
    return F.filter(
        F.array(
            *[
                F.when(full_match(url_col, pat), F.lit(name))
                for name, pat in collections.items()
            ]
        ),
        lambda x: x.isNotNull(),
    )


def robots_verdict(df: DataFrame, robots: DataFrame) -> DataFrame:
    """RB [north-rule addition — no reference counterpart, SURVEY.md
    §1.6]: join per-host robots rules, True where some disallow prefix
    matches the URL path. robots: (host, disallow_prefixes
    array<string>, crawl_delay_ms). Broadcast: the rules table is tiny
    relative to the frontier."""
    path = F.regexp_extract(F.col("url"), r"^[a-z]+://[^/]+(/.*)?$", 1)
    joined = df.join(
        # no broadcast hint: the robots dimension is host-cardinality
        # (10^8 at target scale) — AQE broadcasts it only when small;
        # production co-partitions it with the frontier on host
        robots.select("host", "disallow_prefixes"), "host", "left"
    )
    blocked = F.exists(
        F.coalesce(F.col("disallow_prefixes"), F.array()),
        lambda p: F.startswith(path, p),
    )
    return joined.withColumn("robots_blocked", F.coalesce(blocked, F.lit(False))).drop(
        "disallow_prefixes"
    )


# Tracking params every crawl pipeline strips before dedup/storage:
# the full utm_* family plus the big ad-click ids. Shared verbatim
# with the DuckDB oracle (plain RE2-safe alternation).
TRACKING_PARAM_RE = "^(utm_[a-z0-9_]*|gclid|fbclid|msclkid|mc_eid)(=.*)?$"


def strip_tracking_params(
    urls: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Remove tracking query parameters (TRACKING_PARAM_RE) from
    already-canonical URLs, preserving the ORDER of surviving params —
    the hygiene step between canonicalization (P2, reference-parity:
    keeps the query intact) and dedup/storage: without it the same
    page arriving via two campaigns gets two url_ids.

    Contract: splits at the FIRST '?' (canonical URLs carry no
    fragment); empty params (from '&&' or a trailing '&'/'?') are
    dropped; a URL whose params are all stripped loses its '?'.

    Output: every input column + cleaned_url + n_stripped.

    Scale shape: pure narrow codegen map (split + filter +
    array_join) — no shuffle, no Python."""
    url = F.col(url_col)
    pos = F.instr(url, "?")
    has_q = pos > 0
    # instr/substring (not split+getItem: ANSI mode throws on an
    # out-of-range array index when the URL has no query)
    base = F.when(has_q, F.substring(url, F.lit(1), pos - 1)).otherwise(url)
    q = F.when(has_q, F.substring(url, pos + 1, F.length(url))).otherwise(
        F.lit("")
    )
    params = F.filter(F.split(q, "&"), lambda p: p != "")
    keep = F.filter(params, lambda p: ~p.rlike(TRACKING_PARAM_RE))
    cleaned = F.when(
        has_q & (F.size(keep) > 0),
        F.concat(base, F.lit("?"), F.array_join(keep, "&")),
    ).otherwise(base)
    return urls.select(
        "*",
        cleaned.alias("cleaned_url"),
        (F.size(params) - F.size(keep)).cast("int").alias("n_stripped"),
    )

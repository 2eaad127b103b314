"""S1/S2/P5 — seed-list source: splitter, canonicalization, good/bad
partition, crawl-id stamping.

Reference: CrawlstartURLSplitter (CrawlerListener.java:110-140) —
separators ``|http``, ``%7Chttp``, ``%0D%0A``, ``%0A``, ``%0D``,
space → newline; each piece parsed, malformed pieces diverted to
``badURLStrings``. Used from CrawlStartService.java:105.

A crawl start splits its one seed string on the driver
(`split_seeds`); `split_seed_column` is the same separator chain as a
JVM column expression for seed lists that live in a table.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urlnorm import canonicalize_url

# (pattern, replacement) — order mirrors CrawlerListener.java:117
_SEPARATOR_RULES = [
    (r"\|http", "\nhttp"),
    (r"%7Chttp", "\nhttp"),
    (r"%0D%0A", "\n"),
    (r"%0A", "\n"),
    (r"%0D", "\n"),
    (r" ", "\n"),
]


def split_seed_column(col):
    """Column expression: raw seed string → array of url strings."""
    c = col
    for pat, rep in _SEPARATOR_RULES:
        c = F.regexp_replace(c, pat, rep)
    return F.split(c, "\n")


def split_seeds(seed_strings: list[str]) -> list[dict]:
    """seeds → rows of (seed_ord, piece_ord, url_raw, url), url None
    for malformed pieces. Callers partition into good (`url` set) and
    bad seeds (CrawlerListener.java:122-131).

    Driver-side, like the reference's REST handler
    (CrawlStartService.java:105): a crawl start holds one seed string,
    so splitting it in Spark would cost a job for a few pieces. Same
    separator rules as `split_seed_column` and the same
    `canonicalize_url` spec the `canonicalize` UDF wraps."""
    rows = []
    for seed_ord, seed in enumerate(seed_strings):
        if seed is None:
            continue
        for pat, rep in _SEPARATOR_RULES:
            seed = re.sub(pat, rep, seed)
        for piece_ord, raw in enumerate(seed.split("\n")):
            if raw:
                rows.append({
                    "seed_ord": seed_ord, "piece_ord": piece_ord,
                    "url_raw": raw, "url": canonicalize_url(raw),
                })
    return rows


def parse_sitemap(
    df: DataFrame, xml_col: str = "sitemap_xml", keep: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """Sitemap seed expansion: extract every ``<loc>`` URL from
    sitemap XML bodies — the other bulk seed source next to the S1
    splitter (YaCy's loader feeds sitemap URLs into crawl starts; the
    splitter then treats each as a seed). Regex extraction, not an
    XML parser, deliberately: sitemaps are machine-generated with a
    fixed element shape, the regex stays in whole-stage codegen, and
    the same pattern runs verbatim in the DuckDB oracle. One output
    row per loc; malformed/empty bodies simply yield no rows.
    """
    locs = F.expr(f"regexp_extract_all({xml_col}, '<loc>([^<]+)</loc>', 1)")
    return df.select(*keep, F.explode(locs).alias("loc"))

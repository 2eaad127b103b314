"""Vectorized Arrow (pandas) UDF kernels — with the opt-in seen-set
filter kernels (functions/bloom.py: `use_bloom`, `checkpoint_filters`)
the engine's ONLY per-wave Python execution surface (SURVEY.md §2 "UDF/UDAF/UDTF
surface"). Everything else stays JVM-side in whole-stage codegen: the
frames the crawl path builds from rows the driver holds (crawl starts,
depth-0 seed rows, the profile dimension, metrics rows) are JVM
LocalRelations (`session.local_frame`), so no wave or crawl start ships
pickled Python rows. The blacklist host set is the one pickled frame
left; it is built once per process and read from cache after that.

Each UDF wraps the pure-Python spec functions in functions/urlnorm.py,
so the Spark engine and the executable-spec oracle share one
implementation (drift-proof, SURVEY.md §7).

Per BASELINE.json input_hint: pandas/Arrow Series→Series only, no
per-row Python UDFs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .urlnorm import canonicalize_series, smart_sld


@F.pandas_udf(T.StringType())
def canonicalize(urls: pd.Series) -> pd.Series:
    """URL normal form; None for malformed (P2,
    CrawlerListener.java:277-292, 308). Vectorized fast-gate +
    scalar-spec fallback (urlnorm.canonicalize_series)."""
    return canonicalize_series(urls)


@F.pandas_udf(T.StringType())
def smart_sld_udf(hosts: pd.Series) -> pd.Series:
    """Registrable-domain heuristic (P6, CrawlStartService.java:115)."""
    return hosts.map(smart_sld, na_action="ignore")


def make_regex_full_match_udf(patterns: list[str]):
    """Anchored ('Matcher.matches()') disjunction over compiled regexes
    — the blacklist kernel (F3, Blacklist.java:105-126). Patterns are
    compiled once per executor task, then applied vectorized.

    Returns a pandas UDF BooleanType: True where ANY pattern
    full-matches (first match wins ≡ any-match for a boolean verdict).
    """
    import re

    compiled_holder: list = []

    # Joining patterns as '(?:p1)|(?:p2)' renumbers capturing groups,
    # so a backreference like \1 in pattern 2 silently points into
    # pattern 1's groups — it COMPILES fine, so an except-clause can't
    # catch it. Detect backreference syntax up front and keep those
    # patterns on the per-pattern path. (Conservative: an escaped
    # literal like '\\\\1' false-positives, which only costs speed.)
    _BACKREF = re.compile(r"\\[1-9]|\(\?P=|\\g<")

    @F.pandas_udf(T.BooleanType())
    def any_full_match(urls: pd.Series) -> pd.Series:
        if not compiled_holder:
            # ONE combined alternation, applied vectorized in C
            # (pandas str.fullmatch) — any-match ≡ first-match-wins for
            # a boolean verdict (Blacklist.java:105-126). Falls back to
            # per-pattern scan if the union fails to compile
            # (pathological pattern interaction) or any pattern uses
            # backreferences (group renumbering corrupts them).
            try:
                if any(_BACKREF.search(p) for p in patterns):
                    raise re.error("backreference-bearing pattern in union")
                combined = re.compile(
                    "|".join(f"(?:{p})" for p in patterns) if patterns else r"(?!)"
                )
                compiled_holder.append(("combined", combined))
            except re.error:
                compiled_holder.append(
                    ("list", [re.compile(p) for p in patterns])
                )
        mode, regs = compiled_holder[0]
        if mode == "combined":
            return urls.str.fullmatch(regs).astype("boolean")

        def hit(u: str) -> bool:
            return any(r.fullmatch(u) is not None for r in regs)

        return urls.map(hit, na_action="ignore").astype("boolean")

    return any_full_match

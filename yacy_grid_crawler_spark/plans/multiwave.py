"""Concurrent multi-crawl waves — ONE Spark job serves every active
crawl's current tier.

The reference consumes messages from many crawls concurrently
(CrawlerListener.java:150: one consumer thread per processor; queues
interleave crawls). The single-crawl driver loop (plans/crawl_job.py)
re-expresses one crawl's semantics exactly; this module is the scale
deployment shape: at 10^10-frontier scale with thousands of live
crawl jobs, per-crawl sequential waves would serialize the cluster,
so the tier wave unions every active crawl's candidates and the
whole pipeline runs per-row profile-driven.

What changes vs plans/wave.py:
  * profile regexes become COLUMNS (broadcast profile dim joined on
    crawl_id) evaluated with `regexp_like(url, pattern_col)` — still
    JVM-side, still whole-stage codegen; no new Python kernels.
  * `depth` rides as a candidate column (crawls may sit at different
    depths in the same tier).
  * per-crawl metrics come from ONE grouped aggregate over the
    wave's cached stages (a union of three narrow 0/1 counter
    projections, summed by crawl and depth and collected once) instead
    of global observe() counters; the driver derives both the
    crawl_metrics rows and the continue decision from those rows.
  * the caller (CrawlJob.step_all) builds the candidates of every
    crawl in the tier with one frontier scan and one docs join,
    whatever the number of crawls.

Concurrency semantics (documented contract): the persistent
exist-check (D3) sees the crawl_status SNAPSHOT taken at tier start —
two crawls discovering the same URL in the same tier BOTH accept it
(per-crawl seen-sets stay exact). The reference has the same race
under concurrent consumers; sequential-equality therefore holds
exactly when crawl footprints are disjoint, which is what
tests/test_multiwave.py asserts.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import BATCH_SIZE
from ..functions.udfs import canonicalize
from ..functions.urlnorm import (
    FAST_CANONICAL_PATTERN,
    TIER2_CANONICAL_PATTERN_JVM,
    tier2_fix_jvm,
)
from ..operators.batching import (
    assign_batches,
    assign_shard,
    lineage_column,
    politeness_slots,
)
from ..config import parse_collections
from ..operators.blacklist import BlacklistRule, apply_blacklist
from ..operators.dedup import dedup_against_seen, first_occurrence
from ..operators.filters import anchored, robots_verdict
from .wave import CANON_ORDER

PROFILE_SCHEMA = (
    "crawl_id string, _mm string, _mnm string, _imm string, _imnm string, "
    "priority int, user_id string, start_url string, start_ssld string, "
    "max_depth int, collections array<string>"
)


def profiles_to_df(spark: SparkSession, profiles: dict[str, dict]) -> DataFrame:
    """Broadcast profile dimension: one row per crawl, regex patterns
    pre-anchored (Matcher.matches semantics); empty mustnotmatch →
    NULL (matches nothing)."""
    rows = []
    for cid, p in profiles.items():
        rows.append(
            (
                cid,
                anchored(p.get("mustmatch") or ".*"),
                anchored(p["mustnotmatch"]) if p.get("mustnotmatch") else None,
                anchored(p.get("indexmustmatch") or ".*"),
                anchored(p["indexmustnotmatch"]) if p.get("indexmustnotmatch") else None,
                int(p.get("priority", 0)),
                p.get("user_id", "anonymous"),
                p.get("start_url"),
                p.get("start_ssld"),
                int(p.get("crawlingDepth", 3)),
                list(parse_collections(p.get("collection"))),
            )
        )
    return spark.createDataFrame(rows, PROFILE_SCHEMA)


# per-(crawl, depth) counters summed by MultiWaveResult.metrics_rows
_COUNTERS = (
    "extracted", "parsed_ok", "after_f1", "passed", "filter", "blacklist",
    "robots", "kept", "kept_idx",
)


@dataclass
class MultiWaveResult:
    frontier: DataFrame
    status: DataFrame
    seen: DataFrame
    cached: list = field(default_factory=list)
    _stages: dict = field(default_factory=dict)

    def metrics_rows(self) -> list[tuple]:
        """Per-(crawl, depth) metrics rows in SCHEMAS["crawl_metrics"]
        column order, from the cached wave stages. Call after a sink
        write materialized the wave. ONE Spark job for the whole tier:
        a narrow 0/1 counter projection of each stage (parsed
        candidates, flagged novel rows, kept rows), unioned and summed
        by (crawl_id, depth); everything else is driver arithmetic on
        the collected rows."""
        c, flagged, kept = (
            self._stages["c"], self._stages["flagged"], self._stages["kept"]
        )

        def counters(df: DataFrame, **flags) -> DataFrame:
            # a NULL flag counts 0, like count(when(flag, 1))
            return df.select(
                "crawl_id", "depth",
                *[
                    F.when(flags[k], 1).otherwise(0).cast("long").alias(k)
                    if k in flags else F.lit(0).cast("long").alias(k)
                    for k in _COUNTERS
                ],
            )

        every = F.lit(True)
        reason = F.col("reason")
        rows = (
            counters(
                c, extracted=every, parsed_ok=F.col("url").isNotNull(),
                after_f1=F.col("_dom").isin("text", "all"),
            )
            .unionByName(
                counters(
                    flagged, passed=reason == "pass",
                    filter=reason == "filter", blacklist=reason == "blacklist",
                    robots=reason == "robots",
                )
            )
            .unionByName(counters(kept, kept=every, kept_idx=F.col("do_index")))
            .groupBy("crawl_id", "depth")
            .agg(*[F.sum(k).alias(k) for k in _COUNTERS])
            .collect()
        )
        out = []
        for r in rows:
            n_novel = r["passed"] + r["filter"] + r["blacklist"] + r["robots"]
            out.append(
                (
                    r["crawl_id"], r["depth"], r["extracted"], r["parsed_ok"],
                    r["after_f1"] - n_novel, r["passed"] - r["kept"],
                    r["filter"], r["blacklist"], r["robots"],
                    r["kept"], r["kept_idx"],
                )
            )
        return out

    def unpersist(self) -> None:
        for df in self.cached:
            df.unpersist()


def run_wave_multi(
    candidates: DataFrame,  # (crawl_id, depth, parent_ini, parent_batch_no, parent_batch_pos, span_offset, url_raw)
    profiles: DataFrame,  # PROFILE_SCHEMA
    seen: DataFrame,
    status_ids: DataFrame,
    blacklist: list[BlacklistRule] | None = None,
    robots: DataFrame | None = None,
    n_shards: int = 32,
    use_bloom: bool = False,
    distributed_rank: bool = False,
    hot_host_threshold: int | None = None,
    wave_start_ms: int = 0,
    base_slots: DataFrame | None = None,  # (crawl_id, host, next_slot)
    indexer_blacklist: list[BlacklistRule] | None = None,
) -> MultiWaveResult:
    wave_caches: list = []

    # same gated-UDF + JVM-domain shape as plans/wave.py
    from ..operators.filters import content_domain_jvm

    # `_fast` rides through the Arrow barrier as a real column so the
    # many downstream consumers of `url` reference cheap attributes —
    # inlining the gate regex into the coalesce would re-evaluate it
    # once per consumer (filter predicates get no subexpression
    # elimination)
    _fast = F.regexp_like(F.col("url_raw"), F.lit(FAST_CANONICAL_PATTERN))
    # tier-2: canonical except scheme/host case / #fragment — repaired
    # by pure JVM string ops (urlnorm.tier2_fix_jvm); only the residue
    # (ports, dot-segments, pct-encoding, querystrings...) pays the
    # Arrow round trip
    _t2 = (~F.col("_fast")) & F.regexp_like(
        F.col("url_raw"), F.lit(TIER2_CANONICAL_PATTERN_JVM)
    )
    c = (
        candidates.withColumn("_fast", _fast)
        .withColumn("_t2", _t2)
        .withColumn(
            "_slow",
            canonicalize(
                F.when(
                    F.col("_fast") | F.col("_t2"), F.lit(None).cast("string")
                ).otherwise(F.col("url_raw"))
            ),
        )
        .withColumn(
            "url",
            F.coalesce(
                F.col("_slow"),
                F.when(F.col("_fast"), F.col("url_raw")).when(
                    F.col("_t2"), tier2_fix_jvm(F.col("url_raw"))
                ),
            ),
        )
        .drop("_fast", "_t2", "_slow")
        .withColumn("_dom", content_domain_jvm(F.col("url")))
        .persist()  # reused by the per-crawl parse metrics
    )
    wave_caches.append(c)

    after_f1 = c.filter(F.col("_dom").isin("text", "all"))
    in_wave = first_occurrence(
        after_f1.drop("url_raw", "_dom"),
        key="url",
        order=CANON_ORDER,
        carry=("depth",),  # constant within (crawl_id, url) in a tier
        keep_packed="_ord",  # single-long order key for downstream ranks
    ).withColumn("url_id", F.md5(F.col("url")))
    # url_seen unique by construction; shuffle_hash avoids both the
    # probe-side sort and the AQE driver-serial broadcast build (see
    # anti_join_seen docstring)
    novel = dedup_against_seen(
        in_wave, seen, key="url_id", crawl_col="crawl_id", use_bloom=use_bloom,
        cache_registry=wave_caches,
        assume_unique=True, join_hint="shuffle_hash",
    )

    novel = novel.join(F.broadcast(profiles), "crawl_id").withColumn(
        "host", F.regexp_extract(F.col("url"), r"^[a-z]+://(?:[^/@]*@)?([^/:?]+)", 1)
    )
    # F2 per-row profile patterns — JVM regexp_like, codegen-friendly
    mm_ok = F.regexp_like(F.col("url"), F.col("_mm")) & ~F.coalesce(
        F.regexp_like(F.col("url"), F.col("_mnm")), F.lit(False)
    )
    novel = novel.withColumn("_mm_ok", mm_ok)
    novel = apply_blacklist(novel, blacklist or [], out_col="_bl")
    if robots is not None:
        novel = robots_verdict(novel, robots)
    else:
        novel = novel.withColumn("robots_blocked", F.lit(False))
    flagged = (
        novel.withColumn(
            "reason",
            F.when(~F.col("_mm_ok"), "filter")
            .when(F.col("_bl"), "blacklist")
            .when(F.col("robots_blocked"), "robots")
            .otherwise("pass"),
        )
        .drop("_mm_ok", "_bl", "robots_blocked")
        .persist()
    )
    wave_caches.append(flagged)
    rejected = flagged.filter(F.col("reason") != "pass")
    passed = flagged.filter(F.col("reason") == "pass").drop("reason")

    kept = dedup_against_seen(
        passed, status_ids, key="url_id", crawl_col=None, use_bloom=False,
        join_hint="shuffle_hash",
    )
    kept = kept.withColumn(
        "do_index",
        F.regexp_like(F.col("url"), F.col("_imm"))
        & ~F.coalesce(F.regexp_like(F.col("url"), F.col("_imnm")), F.lit(False)),
    )
    if indexer_blacklist:
        # indexer blacklist gates the split only (never drops the
        # URL), global across crawls like the reference's config-level
        # list (CrawlerListener.java:374-384)
        kept = apply_blacklist(kept, indexer_blacklist, out_col="_ibl")
        kept = kept.withColumn(
            "do_index", F.col("do_index") & ~F.col("_ibl")
        ).drop("_ibl")
    kept = kept.withColumn(
        "lane", F.when(F.col("priority") > 0, "priority").otherwise("normal")
    )
    kept = assign_batches(
        kept, order=("_ord",), batch_size=BATCH_SIZE,
        distributed=distributed_rank, cache_registry=wave_caches,
    ).drop("_ord")  # batch_no/batch_pos carry the order from here on
    kept = assign_shard(kept, n_shards, hot_host_threshold=hot_host_threshold)
    kept = politeness_slots(
        kept, robots, wave_start_ms=wave_start_ms,
        distributed=distributed_rank, cache_registry=wave_caches,
        base_slots=base_slots,
    )
    kept = kept.withColumn(
        "lineage",
        lineage_column(
            timestamp_ms=wave_start_ms,
            ini_col=(1 - F.col("do_index").cast("int")),
        ),
    ).persist()
    wave_caches.append(kept)

    frontier = kept.select(
        "crawl_id", "url", "url_id", "depth", "lane", "do_index",
        "batch_no", "batch_pos", "host", "shard", "salt", "fetch_slot",
        "not_before_ms", "lineage",
    )
    status = rejected.select(
        "crawl_id", "user_id", "url_id", "url",
        F.lit("rejected").alias("status"),
        F.col("reason").alias("comment_class"),
        "depth", "start_url", "start_ssld", "collections",
    ).unionByName(
        kept.select(
            "crawl_id", "user_id", "url_id", "url",
            F.lit("accepted").alias("status"),
            F.when(F.col("do_index"), "index").otherwise("noindex").alias("comment_class"),
            "depth", "start_url", "start_ssld", "collections",
        )
    )
    seen_new = flagged.select(
        "crawl_id", "url_id", F.col("depth").alias("first_depth"),
        F.lit(int(wave_start_ms)).cast("long").alias("seen_at_ms"),
    )
    return MultiWaveResult(
        frontier=frontier,
        status=status,
        seen=seen_new,
        cached=wave_caches,
        _stages={"c": c, "flagged": flagged, "kept": kept},
    )

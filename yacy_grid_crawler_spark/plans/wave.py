"""One crawl wave = the Spark re-expression of the reference's
per-message `processAction` pipeline (CrawlerListener.java:191-448;
SURVEY.md §3.2).

Stage order preserves the reference's cost-ordered predicate chain
(cheap→expensive, CrawlerListener.java:302-356 + cost comments :338,
:349-352): parse → content-domain → in-wave dedup → seen anti-join →
mustmatch → blacklist → robots → persistent exist-check. Catalyst
cannot reorder across the UDF kernels, so pipeline construction order
IS the physical order (SURVEY.md §4). One deviation from the
reference's per-URL short-circuiting: the filter verdicts (mustmatch,
blacklist, robots) are computed as COLUMNS in a single projection and
the rows split by a `reason` discriminator — same decisions, but one
pass and one metrics aggregate instead of per-filter passes; the
reference needed short-circuiting because its blacklist scan was
O(13k regexes) per URL, ours is a JVM host-set probe + a small
compiled-regex kernel.

Shuffle budget per wave (the scale analysis):
  1 shuffle: in-wave first-occurrence dedup (hash by url_id)
  1 shuffle: seen anti-join (url_id) — bloom pre-filter shrinks the
             probe side
  1 shuffle: persistent-status anti-join (url_id)
  1 shuffle: canonical-order batching (range-partitioned two-phase
             rank when distributed_rank=True; window otherwise)
Everything else is broadcast (profile regexes are literals; blacklist
hosts, robots rules broadcast) or narrow.

Driver actions per wave: ONLY the sink writes. All counters ride on
`observe()` nodes (Spark's accumulator-backed named observations)
attached at the three pipeline cut points, so metrics cost zero extra
jobs: the first sink write materializes the whole plan and the
observed aggregates fall out of that same action. The driver loop
never re-reads committed state to decide continuation — it calls
`WaveResult.resolve()` after the first write.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
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
    assign_lane,
    assign_shard,
    lineage_column,
    politeness_slots,
)
from ..operators.blacklist import BlacklistRule, apply_blacklist
from ..operators.dedup import dedup_against_seen, first_occurrence
from ..operators.filters import (
    do_index_verdict,
    mustmatch_verdict,
    robots_verdict,
)
from ..session import local_frame
from ..sources.statestore import SCHEMAS

# canonical within-wave order of candidate links (SURVEY.md §5):
# parents in frontier canonical order, links in span-offset order
CANON_ORDER = ("parent_ini", "parent_batch_no", "parent_batch_pos", "span_offset")


@dataclass
class WaveResult:
    frontier: DataFrame
    status: DataFrame
    seen: DataFrame
    crawl_id: str
    depth: int
    observations: dict = field(default_factory=dict)
    cached: list = field(default_factory=list)
    _counts: dict | None = None

    def resolve(self) -> dict:
        """Read the observed counters. Call ONLY after an action has
        materialized `frontier` or `status` (e.g. the sink write) —
        `Observation.get` blocks until its query finishes."""
        if self._counts is None:
            parse = self.observations["parse"].get
            flag = self.observations["flag"].get
            kept = self.observations["kept"].get

            def g(d, k):  # empty partitions → null aggregates
                return int(d.get(k) or 0)

            n_novel = sum(
                g(flag, k) for k in ("pass", "filter", "blacklist", "robots")
            )
            self._counts = {
                "extracted": g(parse, "extracted"),
                "parsed_ok": g(parse, "parsed_ok"),
                "deduped_session": g(parse, "after_f1") - n_novel,
                "deduped_persistent": g(flag, "pass") - g(kept, "n"),
                "rejected_filter": g(flag, "filter"),
                "rejected_blacklist": g(flag, "blacklist"),
                "rejected_robots": g(flag, "robots"),
                "accepted": g(kept, "n"),
                "do_index": g(kept, "n_idx"),
            }
        return self._counts

    def metrics_df(self) -> DataFrame:
        """One metrics row for the wave (A2) — call after resolve()'s
        precondition holds (a sink write ran)."""
        c = self.resolve()
        return local_frame(
            self.frontier.sparkSession,
            [
                (
                    self.crawl_id, self.depth, c["extracted"], c["parsed_ok"],
                    c["deduped_session"], c["deduped_persistent"],
                    c["rejected_filter"], c["rejected_blacklist"],
                    c["rejected_robots"], c["accepted"], c["do_index"],
                )
            ],
            SCHEMAS["crawl_metrics"],
        )

    def unpersist(self) -> None:
        for df in self.cached:
            df.unpersist()


def run_wave(
    candidates: DataFrame,  # (parent_ini, parent_batch_no, parent_batch_pos, span_offset, url_raw)
    profile: dict,
    seen: DataFrame,  # url_seen rows for this crawl (crawl_id, url_id, ...)
    status_ids: DataFrame,  # (url_id) of ALL pre-existing crawl_status rows (D3, global)
    depth: int,
    blacklist: list[BlacklistRule] | None = None,
    robots: DataFrame | None = None,  # (host, disallow_prefixes, crawl_delay_ms)
    n_shards: int = 32,
    use_bloom: bool = False,
    distributed_rank: bool = False,
    hot_host_threshold: int | None = None,
    wave_start_ms: int = 0,
    base_slots: DataFrame | None = None,  # (crawl_id, host, next_slot)
    seen_filter=None,  # checkpointed UrlBloom from the prior wave's commit
    base_positions: DataFrame | None = None,  # (crawl_id, do_index, _base_pos)
    indexer_blacklist: list[BlacklistRule] | None = None,
) -> WaveResult:
    crawl_id = profile["id"]
    user_id = profile.get("user_id", "anonymous")
    # parsed collection NAMES stamped on every status doc
    # (CrawlerListener.java:257-258 keySet() at :322)
    from ..config import parse_collections

    collection_names = list(parse_collections(profile.get("collection")))
    colls_col = F.array(*[F.lit(n) for n in collection_names]).cast(
        "array<string>"
    )

    # P2 canonicalize + F1 content-domain. The fast gate (a JVM regex
    # deciding "already canonical", shared verbatim with the Python
    # spec) nulls out ~3/4 of the UDF's INPUT, so the Arrow transfer
    # carries mostly null bitmaps and Python only touches the messy
    # minority; `coalesce` stitches identity rows back. Content-domain
    # classification runs entirely JVM-side (content_domain_jvm) —
    # spec equality pinned by tests/test_urlnorm.py + the wave oracle.
    # Counters ride as observations — no standalone aggregate job, and
    # no persist: `c` has a single downstream consumer.
    from ..operators.filters import content_domain_jvm

    obs_parse = Observation()
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
        .observe(
            obs_parse,
            F.count(F.lit(1)).alias("extracted"),
            F.count("url").alias("parsed_ok"),
            F.count(F.when(F.col("_dom").isin("text", "all"), 1)).alias("after_f1"),
        )
    )

    after_f1 = (
        c.filter(F.col("_dom").isin("text", "all"))
        .drop("_dom")
        .withColumn("crawl_id", F.lit(crawl_id))
    )

    # D2: in-wave first occurrence (canonical winner) + cross-wave
    # anti-join against the committed seen set; novel rows are ADDED to
    # the seen set before any filter verdict (add-before-filter,
    # CrawlerListener.java:312-315) — i.e. seen_new = ALL novel rows,
    # rejected or not.
    wave_caches: list = []
    # packed-aggregate fast path keyed on the URL STRING: a pure
    # codegen HashAggregate (fixed-width min(packed_order) buffer), and
    # md5 (P3) runs once per UNIQUE url after the collapse instead of
    # once per candidate — measured 2× the md5-first formulation.
    # Single-crawl wave: crawl_id is a LITERAL here, so it is kept OUT
    # of every shuffle key — a constant key column only fragments
    # exchange reuse (hash(crawl_id, url) ≠ hash(url) to Catalyst even
    # when crawl_id never varies). With both anti-joins keyed on bare
    # url_id, the seen join's exchange is REUSED by the status join —
    # one url_id shuffle of the wave instead of two (the multiwave
    # keeps crawl_id in its keys because there it truly varies).
    # keep_packed: the canonical-order tuple survives as ONE 8-byte
    # long ("_ord", sorts identically to CANON_ORDER) — every
    # downstream shuffle (seen/status anti-joins, batch + politeness
    # range ranks) moves one long instead of four ints/longs, and the
    # range-partition comparators become single-key
    in_wave = (
        first_occurrence(
            after_f1.drop("url_raw", "crawl_id"),
            key="url",
            order=CANON_ORDER,
            carry=(),
            crawl_col=None,
            keep_packed="_ord",
        )
        .withColumn("url_id", F.md5(F.col("url")))  # P3
        .withColumn("crawl_id", F.lit(crawl_id))
    )
    # url_seen is unique by construction (anti-joined before every
    # append) → no defensive distinct; shuffle_hash → no sort of the
    # wave side and no AQE driver-serial broadcast build (see
    # anti_join_seen docstring)
    novel = dedup_against_seen(
        in_wave, seen.select("url_id"), key="url_id", crawl_col=None,
        use_bloom=use_bloom or seen_filter is not None,
        cache_registry=wave_caches, prebuilt=seen_filter,
        assume_unique=True, join_hint="shuffle_hash",
    )

    # F2/F3/RB verdict columns → one `reason` discriminator
    mm_ok = mustmatch_verdict(
        F.col("url"), profile.get("mustmatch", ".*"), profile.get("mustnotmatch", "")
    )
    novel = novel.withColumns(
        {
            "host": F.regexp_extract(
                F.col("url"), r"^[a-z]+://(?:[^/@]*@)?([^/:?]+)", 1
            ),
            "_mm_ok": mm_ok,
        }
    )
    novel = apply_blacklist(novel, blacklist or [], out_col="_bl")
    if robots is not None:
        novel = robots_verdict(novel, robots)
    else:
        novel = novel.withColumn("robots_blocked", F.lit(False))
    obs_flag = Observation()
    flagged = (
        novel.withColumn(
            "reason",
            F.when(~F.col("_mm_ok"), "filter")
            .when(F.col("_bl"), "blacklist")
            .when(F.col("robots_blocked"), "robots")
            .otherwise("pass"),
        )
        .drop("_mm_ok", "_bl", "robots_blocked")
        .observe(
            obs_flag,
            *[
                F.count(F.when(F.col("reason") == r, 1)).alias(r)
                for r in ("pass", "filter", "blacklist", "robots")
            ],
        )
        .persist()
    )
    rejected = flagged.filter(F.col("reason") != "pass")
    passed = flagged.filter(F.col("reason") == "pass").drop("reason")

    # D3 persistent exist-check (bulk anti-join, CrawlerListener.java:360-365)
    kept = dedup_against_seen(
        passed, status_ids, key="url_id", crawl_col=None, use_bloom=False,
        join_hint="shuffle_hash",
    )

    # F4 index/noindex steering + G1/G2/G3/G4 + politeness + lineage
    kept = kept.withColumn(
        "do_index",
        do_index_verdict(
            F.col("url"),
            profile.get("indexmustmatch", ".*"),
            profile.get("indexmustnotmatch", ""),
        ),
    )
    if indexer_blacklist:
        # the indexer blacklist (grid.indexer.blacklist) flips the
        # verdict to the noindex lane but never drops the URL
        # (CrawlerListener.java:374-384); plan unchanged when empty
        kept = apply_blacklist(kept, indexer_blacklist, out_col="_ibl")
        kept = kept.withColumn(
            "do_index", F.col("do_index") & ~F.col("_ibl")
        ).drop("_ibl")
    kept = assign_lane(kept, profile.get("priority", 0))
    kept = assign_batches(
        kept, order=("_ord",), batch_size=BATCH_SIZE,
        distributed=distributed_rank, cache_registry=wave_caches,
        base_positions=base_positions,
    ).drop("_ord")  # batch_no/batch_pos carry the order from here on
    kept = assign_shard(kept, n_shards, hot_host_threshold=hot_host_threshold)
    kept = politeness_slots(
        kept, robots, wave_start_ms=wave_start_ms,
        distributed=distributed_rank, cache_registry=wave_caches,
        base_slots=base_slots,
    )
    obs_kept = Observation()
    kept = (
        # full reference docname d{depth:02}-t{wave_ts+ini}-p{batch:04}
        # (S9); asset PATHS are derived on export by
        # operators.batching.asset_columns — not persisted per frontier
        # row (3 ~90-char strings × 10^10 rows would bloat the
        # checkpoint for a string that is a pure function of this one)
        kept.withColumns(
            {
                "depth": F.lit(depth),
                "lineage": lineage_column(
                    depth_col=F.lit(depth),
                    timestamp_ms=wave_start_ms,
                    ini_col=(1 - F.col("do_index").cast("int")),
                ),
            }
        )
        .observe(
            obs_kept,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.col("do_index").cast("long")), F.lit(0)).alias("n_idx"),
        )
        .persist()
    )

    frontier = kept.select(
        "crawl_id", "url", "url_id", "depth", "lane", "do_index",
        "batch_no", "batch_pos", "host", "shard", "salt", "fetch_slot",
        "not_before_ms", "lineage",
    )

    status = rejected.select(
        F.lit(crawl_id).alias("crawl_id"),
        F.lit(user_id).alias("user_id"),
        "url_id",
        "url",
        F.lit("rejected").alias("status"),
        F.col("reason").alias("comment_class"),
        F.lit(depth).alias("depth"),
        F.lit(profile.get("start_url")).alias("start_url"),
        F.lit(profile.get("start_ssld")).alias("start_ssld"),
        colls_col.alias("collections"),
    ).unionByName(
        kept.select(
            "crawl_id",
            F.lit(user_id).alias("user_id"),
            "url_id",
            "url",
            F.lit("accepted").alias("status"),
            F.when(F.col("do_index"), "index").otherwise("noindex").alias(
                "comment_class"
            ),
            F.lit(depth).alias("depth"),
            F.lit(profile.get("start_url")).alias("start_url"),
            F.lit(profile.get("start_ssld")).alias("start_ssld"),
            colls_col.alias("collections"),
        )
    )

    seen_new = flagged.select(
        "crawl_id", "url_id", F.lit(depth).alias("first_depth"),
        F.lit(int(wave_start_ms)).cast("long").alias("seen_at_ms"),
    )

    return WaveResult(
        frontier=frontier,
        status=status,
        seen=seen_new,
        crawl_id=crawl_id,
        depth=depth,
        observations={"parse": obs_parse, "flag": obs_flag, "kept": obs_kept},
        cached=[flagged, kept, *wave_caches],
    )

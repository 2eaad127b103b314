"""One crawl wave = the Spark re-expression of the reference's
per-message `processAction` pipeline (CrawlerListener.java:191-448;
SURVEY.md §3.2), built once for a TIER of k crawls.

The reference consumes messages from many crawls concurrently
(CrawlerListener.java:150: one consumer thread per processor; queues
interleave crawls) and looks each message's crawl profile up per
message (:194-209). Here a tier wave takes the candidates of k crawls,
each at its own depth, and every per-crawl value (anchored profile
patterns, priority, user_id, start_url, start_ssld, collections, depth,
crawl_id) is read through ONE accessor. The choice is made from the
crawl count, with no flag:
  * k = 1 (`run_wave`, `CrawlJob.step`, a one-crawl `step_all` tier):
    every per-crawl value is a LITERAL at its point of use, so Catalyst
    folds it (a match-everything pattern costs no regex; a literal
    pattern compiles once). crawl_id stays out of every shuffle key,
    the seen anti-join is keyed on bare url_id (the caller passes only
    this crawl's url_seen rows), and the counters ride `observe()`
    nodes at the three cut points — zero extra jobs: the first sink
    write materializes the plan and the observed aggregates fall out of
    that same action.
  * k > 1 (`CrawlJob.step_all`): the values are COLUMNS of the
    broadcast profile dimension (`profiles_to_df`, joined on crawl_id
    after the seen anti-join) and the candidates' own crawl_id/depth;
    crawl_id sits in the dedup keys, the parse stage is persisted, and
    the per-crawl counters are ONE grouped job over the three cached
    stages.

Stage order preserves the reference's cost-ordered predicate chain
(cheap→expensive, CrawlerListener.java:302-356 + cost comments :338,
:349-352): parse → content-domain → in-wave dedup → seen anti-join →
mustmatch → blacklist → robots → persistent exist-check. Catalyst
cannot reorder across the UDF kernels, so pipeline construction order
IS the physical order (SURVEY.md §4). One deviation from the
reference's per-URL short-circuiting: the filter verdicts (mustmatch,
blacklist, robots) are computed as COLUMNS in a single projection and
the rows split by a `reason` discriminator — same decisions, one pass.

Shuffle budget per wave:
  1 shuffle: in-wave first-occurrence dedup (hash by url)
  1 shuffle: seen anti-join (url_id) — bloom pre-filter shrinks the
             probe side
  1 shuffle: persistent-status anti-join (url_id)
  1 shuffle: canonical-order batching (range-partitioned two-phase
             rank when distributed_rank=True; window otherwise)
Everything else is broadcast (profile values, blacklist hosts, robots
rules) or narrow.

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

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import BATCH_SIZE, parse_collections
from ..functions.urlnorm import canonicalize_gated
from ..operators.batching import (
    assign_batches,
    assign_lane,
    assign_shard,
    lineage_column,
    politeness_slots,
)
from ..operators.blacklist import BlacklistRule, apply_blacklist
from ..operators.dedup import anti_join_seen, dedup_against_seen, first_occurrence
from ..operators.filters import anchored, content_domain_jvm, robots_verdict
from ..session import local_frame
from ..sources.statestore import SCHEMAS

# canonical within-wave order of candidate links (SURVEY.md §5):
# parents in frontier canonical order, links in span-offset order
CANON_ORDER = ("parent_ini", "parent_batch_no", "parent_batch_pos", "span_offset")

PROFILE_SCHEMA = (
    "crawl_id string, _mm string, _mnm string, _imm string, _imnm string, "
    "priority int, user_id string, start_url string, start_ssld string, "
    "max_depth int, collections array<string>"
)
# SQL types of the per-crawl values a k = 1 wave inlines as literals
_TYPES = dict(f.split(" ", 1) for f in PROFILE_SCHEMA.split(", "))
_TYPES["depth"] = "int"
_MATCH_ALL = anchored(".*")


def _profile_row(cid: str, p: dict) -> tuple:
    """A crawl's per-crawl values in PROFILE_SCHEMA order: regex
    patterns pre-anchored (Matcher.matches semantics), an empty
    mustnotmatch → NULL (matches nothing), the parsed collection NAMES
    stamped on every status doc (CrawlerListener.java:257-258, keySet()
    at :322)."""
    return (
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


def profiles_to_df(spark: SparkSession, profiles: dict[str, dict]) -> DataFrame:
    """Broadcast profile dimension of a k > 1 tier: one row per crawl
    (`_profile_row`). A LocalRelation, so broadcasting it runs no
    job."""
    rows = [_profile_row(cid, p) for cid, p in profiles.items()]
    return local_frame(spark, rows, PROFILE_SCHEMA)


# per-(crawl, depth) counters, as SQL flags per cut-point stage: the
# parsed candidates, the flagged novel rows, the kept rows. k = 1
# observes count_if(flag); k > 1 sums IF(flag, 1, 0) in one grouped job
_COUNTER_SQL = {
    "c": {
        "extracted": "true",
        "parsed_ok": "url IS NOT NULL",
        "after_f1": "_dom IN ('text', 'all')",
    },
    "flagged": {
        "passed": "reason = 'pass'",
        "filter": "reason = 'filter'",
        "blacklist": "reason = 'blacklist'",
        "robots": "reason = 'robots'",
    },
    "kept": {"kept": "true", "kept_idx": "do_index"},
}
_COUNTERS = tuple(k for flags in _COUNTER_SQL.values() for k in flags)


def observed(obs: Observation) -> dict:
    """The metrics of `obs`, {} when there are none: AQE prunes an
    observe() node whose input turned out empty at run time, and its
    observation then holds an empty row that `Observation.get` cannot
    convert. Call after an action ran the observed frame."""
    return obs.get if obs._jo.getRow().length() else {}


@dataclass
class WaveResult:
    frontier: DataFrame
    status: DataFrame
    seen: DataFrame
    cached: list = field(default_factory=list)
    # k = 1: (crawl_id, depth) and the observe() counters per stage;
    # k > 1: the persisted stages the grouped counter job reads
    single: tuple | None = None
    observations: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)
    _rows: list | None = None

    def _counters(self) -> list:
        """[(crawl_id, depth, {counter: n})] of the tier."""
        if self.single is not None:
            got: dict = {}
            for obs in self.observations.values():
                got.update(observed(obs))
            return [(*self.single, {k: int(got.get(k) or 0) for k in _COUNTERS})]

        # one narrow 0/1 counter projection per stage, unioned and
        # summed by (crawl_id, depth): ONE Spark job for the whole tier.
        # Each projection is one parsed selectExpr: building it from
        # Column calls cost a py4j round trip per call.
        def counters(stage: str) -> DataFrame:
            flags = _COUNTER_SQL[stage]
            return self.stages[stage].selectExpr(
                "crawl_id", "depth",
                *[
                    f"IF({flags[k]}, 1L, 0L) AS `{k}`" if k in flags else f"0L AS `{k}`"
                    for k in _COUNTERS
                ],
            )

        rows = (
            counters("c").unionByName(counters("flagged")).unionByName(counters("kept"))
            .groupBy("crawl_id", "depth").sum(*_COUNTERS).collect()
        )
        return [(r[0], r[1], dict(zip(_COUNTERS, r[2:]))) for r in rows]

    def metrics_rows(self) -> list[tuple]:
        """crawl_metrics rows (SCHEMAS column order), one per crawl of
        the tier that had at least one candidate. Call after a sink
        write materialized the wave."""
        if self._rows is None:
            self._rows = []
            for cid, depth, r in self._counters():
                if not r["extracted"]:
                    continue
                n_novel = r["passed"] + r["filter"] + r["blacklist"] + r["robots"]
                self._rows.append((
                    cid, depth, r["extracted"], r["parsed_ok"],
                    r["after_f1"] - n_novel, r["passed"] - r["kept"],
                    r["filter"], r["blacklist"], r["robots"],
                    r["kept"], r["kept_idx"],
                ))
        return self._rows

    def resolve(self) -> dict:
        """The wave's counters by crawl_metrics name, summed over the
        tier's crawls (zeros for an empty wave). Call after a sink
        write materialized the wave."""
        names = SCHEMAS["crawl_metrics"].names
        return {
            n: sum(r[i] for r in self.metrics_rows())
            for i, n in enumerate(names) if i >= 2
        }

    def metrics_df(self) -> DataFrame:
        return local_frame(
            self.frontier.sparkSession, self.metrics_rows(), SCHEMAS["crawl_metrics"]
        )

    def unpersist(self) -> None:
        for df in self.cached:
            df.unpersist()


def run_tier(
    candidates: DataFrame,  # (crawl_id, depth, parent_ini, parent_batch_no, parent_batch_pos, span_offset, url_raw)
    profiles: dict[str, dict],  # {crawl_id: profile} of the tier's crawls
    depths: dict[str, int],  # {crawl_id: depth}
    seen: DataFrame,  # url_seen rows of the tier's crawls (crawl_id, url_id, ...)
    status_ids: DataFrame,  # (url_id) of ALL pre-existing crawl_status rows (D3, global)
    blacklist: list[BlacklistRule] | None = None,
    robots: DataFrame | None = None,  # (host, disallow_prefixes, crawl_delay_ms)
    n_shards: int = 32,
    use_bloom: bool = False,
    distributed_rank: bool = False,
    hot_host_threshold: int | None = None,
    wave_start_ms: int = 0,
    base_slots: DataFrame | None = None,  # (crawl_id, host, next_slot)
    seen_filter=None,  # k = 1: checkpointed UrlBloom from the prior wave's commit
    base_positions: DataFrame | None = None,  # k = 1: (crawl_id, do_index, _base_pos)
    indexer_blacklist: list[BlacklistRule] | None = None,
) -> WaveResult:
    """One wave for the k crawls of `profiles` (see the module
    docstring for the k = 1 / k > 1 rule). For k = 1 the candidates
    need not carry crawl_id/depth."""
    single = len(profiles) == 1
    if single:
        ((cid, profile),) = profiles.items()
        one = dict(zip(_TYPES, _profile_row(cid, profile)), depth=depths[cid])
        candidates = candidates.drop("crawl_id", "depth")

    def per_crawl(name: str) -> Column:
        """Per-crawl value `name` (a PROFILE_SCHEMA column or depth)."""
        return F.lit(one[name]).cast(_TYPES[name]) if single else F.col(name)

    def matches(name: str) -> Column:
        """url full-matches the crawl's anchored pattern `name`; a NULL
        pattern matches nothing."""
        if not single:
            return F.coalesce(F.regexp_like(F.col("url"), F.col(name)), F.lit(False))
        if one[name] is None or one[name] == _MATCH_ALL:
            return F.lit(one[name] is not None)
        return F.regexp_like(F.col("url"), F.lit(one[name]))

    caches: list = []
    observations: dict = {}
    stages: dict = {}

    def cut(df: DataFrame, stage: str, persist: bool) -> DataFrame:
        """A counter cut point: k = 1 observes the stage's counters,
        k > 1 persists the stage for the grouped counter job."""
        if single:
            observations[stage] = Observation()
            df = df.observe(
                observations[stage],
                *[F.expr(f"count_if({p})").alias(k) for k, p in _COUNTER_SQL[stage].items()],
            )
        if persist or not single:
            df = df.persist()
            caches.append(df)
        stages[stage] = df
        return df

    # P2 canonicalize (JVM-gated kernel) + F1 content-domain, entirely
    # JVM-side (content_domain_jvm) — spec equality pinned by
    # tests/test_urlnorm.py + the wave oracle. k = 1: no persist, `c`
    # has a single downstream consumer.
    c = cut(
        canonicalize_gated(candidates).withColumn("_dom", content_domain_jvm(F.col("url"))),
        "c", persist=False,
    )

    # D2: in-wave first occurrence (canonical winner) + cross-wave
    # anti-join against the committed seen set; novel rows are ADDED to
    # the seen set before any filter verdict (add-before-filter,
    # CrawlerListener.java:312-315) — i.e. seen_new = ALL novel rows,
    # rejected or not.
    # Packed-aggregate fast path keyed on the URL STRING: md5 (P3) runs
    # once per UNIQUE url after the collapse instead of once per
    # candidate — measured 2× the md5-first formulation. k = 1 keeps
    # crawl_id OUT of every shuffle key (a constant key column only
    # fragments exchange reuse) and carries nothing, so the aggregate
    # has a fixed-width buffer; k > 1 keys on (crawl_id, url) and
    # carries depth (constant within (crawl_id, url) in a tier).
    # keep_packed: the canonical-order tuple survives as ONE 8-byte
    # long ("_ord", sorts identically to CANON_ORDER) — every
    # downstream shuffle moves one long instead of four ints/longs.
    in_wave = first_occurrence(
        c.filter(F.col("_dom").isin("text", "all")).drop("url_raw", "_dom"),
        key="url",
        order=CANON_ORDER,
        carry=() if single else ("depth",),
        crawl_col=None if single else "crawl_id",
        keep_packed="_ord",
    ).withColumns({"url_id": F.md5(F.col("url")), "crawl_id": per_crawl("crawl_id")})
    # url_seen is unique by construction (anti-joined before every
    # append) → no defensive distinct; shuffle_hash → no sort of the
    # wave side and no AQE driver-serial broadcast build (see
    # anti_join_seen docstring)
    novel = dedup_against_seen(
        in_wave, seen, key="url_id", crawl_col=None if single else "crawl_id",
        use_bloom=use_bloom or seen_filter is not None,
        cache_registry=caches, prebuilt=seen_filter,
        assume_unique=True, join_hint="shuffle_hash",
    )
    if not single:
        novel = novel.join(
            F.broadcast(profiles_to_df(candidates.sparkSession, profiles)), "crawl_id"
        )

    # F2/F3/RB verdict columns → one `reason` discriminator
    novel = novel.withColumns(
        {
            "host": F.regexp_extract(
                F.col("url"), r"^[a-z]+://(?:[^/@]*@)?([^/:?]+)", 1
            ),
            "_mm_ok": matches("_mm") & ~matches("_mnm"),
        }
    )
    novel = apply_blacklist(novel, blacklist or [], out_col="_bl")
    if robots is not None:
        novel = robots_verdict(novel, robots)
    else:
        novel = novel.withColumn("robots_blocked", F.lit(False))
    flagged = cut(
        novel.withColumn(
            "reason",
            F.when(~F.col("_mm_ok"), "filter")
            .when(F.col("_bl"), "blacklist")
            .when(F.col("robots_blocked"), "robots")
            .otherwise("pass"),
        ).drop("_mm_ok", "_bl", "robots_blocked"),
        "flagged", persist=True,
    )
    rejected = flagged.filter(F.col("reason") != "pass")
    passed = flagged.filter(F.col("reason") == "pass").drop("reason")

    # D3 persistent exist-check (bulk anti-join, CrawlerListener.java:360-365)
    kept = anti_join_seen(
        passed, status_ids, key="url_id", crawl_col=None, join_hint="shuffle_hash"
    )

    # F4 index/noindex steering + G1/G2/G3/G4 + politeness + lineage
    kept = kept.withColumn("do_index", matches("_imm") & ~matches("_imnm"))
    if indexer_blacklist:
        # the indexer blacklist (grid.indexer.blacklist) flips the
        # verdict to the noindex lane but never drops the URL
        # (CrawlerListener.java:374-384); global across crawls like the
        # reference's config-level list; plan unchanged when empty
        kept = apply_blacklist(kept, indexer_blacklist, out_col="_ibl")
        kept = kept.withColumn(
            "do_index", F.col("do_index") & ~F.col("_ibl")
        ).drop("_ibl")
    kept = assign_lane(kept, per_crawl("priority"))
    kept = assign_batches(
        kept, order=("_ord",), batch_size=BATCH_SIZE,
        distributed=distributed_rank, cache_registry=caches,
        base_positions=base_positions,
    ).drop("_ord")  # batch_no/batch_pos carry the order from here on
    kept = assign_shard(kept, n_shards, hot_host_threshold=hot_host_threshold)
    kept = politeness_slots(
        kept, robots, wave_start_ms=wave_start_ms,
        distributed=distributed_rank, cache_registry=caches,
        base_slots=base_slots,
    )
    # full reference docname d{depth:02}-t{wave_ts+ini}-p{batch:04}
    # (S9); asset PATHS are derived on export by
    # operators.batching.asset_columns — not persisted per frontier row
    kept = cut(
        kept.withColumns(
            {
                "depth": per_crawl("depth"),
                "lineage": lineage_column(
                    depth_col=per_crawl("depth"),
                    timestamp_ms=wave_start_ms,
                    ini_col=(1 - F.col("do_index").cast("int")),
                ),
            }
        ),
        "kept", persist=True,
    )

    frontier = kept.select(
        "crawl_id", "url", "url_id", "depth", "lane", "do_index",
        "batch_no", "batch_pos", "host", "shard", "salt", "fetch_slot",
        "not_before_ms", "lineage",
    )

    def status_rows(df: DataFrame, status: str, comment: Column) -> DataFrame:
        return df.select(
            "crawl_id", per_crawl("user_id").alias("user_id"), "url_id", "url",
            F.lit(status).alias("status"), comment.alias("comment_class"),
            *[
                per_crawl(n).alias(n)
                for n in ("depth", "start_url", "start_ssld", "collections")
            ],
        )

    status = status_rows(rejected, "rejected", F.col("reason")).unionByName(
        status_rows(
            kept, "accepted", F.when(F.col("do_index"), "index").otherwise("noindex")
        )
    )
    seen_new = flagged.select(
        "crawl_id", "url_id", per_crawl("depth").alias("first_depth"),
        F.lit(int(wave_start_ms)).cast("long").alias("seen_at_ms"),
    )
    return WaveResult(
        frontier=frontier,
        status=status,
        seen=seen_new,
        cached=caches,
        single=(cid, depths[cid]) if single else None,
        observations=observations,
        stages=stages,
    )


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
    """One wave of one crawl at `depth`: the k = 1 tier."""
    cid = profile["id"]
    return run_tier(
        candidates, {cid: profile}, {cid: depth}, seen, status_ids,
        blacklist=blacklist, robots=robots, n_shards=n_shards,
        use_bloom=use_bloom, distributed_rank=distributed_rank,
        hot_host_threshold=hot_host_threshold, wave_start_ms=wave_start_ms,
        base_slots=base_slots, seen_filter=seen_filter,
        base_positions=base_positions, indexer_blacklist=indexer_blacklist,
    )

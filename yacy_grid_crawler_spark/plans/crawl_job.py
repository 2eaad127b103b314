"""Driver BFS crawl loop — the Spark-native replacement for the
reference's queue-consumer process (SURVEY.md §3.2 "Spark equivalent").

One *wave* = all pending frontier work for (crawl_id, depth), executed
as a single DataFrame job and committed atomically to the state store
(frontier + status + seen + metrics in one snapshot). The envelope's
nested action chain (CrawlerListener.java:481-567) disappears: the
driver loop owns the iteration structure (SURVEY.md §1.2).

Crawl start (SURVEY.md §3.1, CrawlStartService.java:73-207):
  seed split (S1) → per-seed single-crawl profile with crawl id (P5),
  start_url normal form, start_ssld (P6) → crawl_starts append (S7) →
  stale-status delete (S8) → depth-0 wave from the rootasset seed (S2).

Resume: every commit records {crawl_id → next_depth} in the snapshot
manifest; `CrawlJob.resume()` re-reads the last manifest and continues
— exactly-once, because an interrupted wave left no manifest (north
rule: exact resume from checkpoint).
"""

from __future__ import annotations

from datetime import datetime, timezone
import json

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import build_crawl_start, make_profile
from ..operators.batching import global_positions
from ..operators.blacklist import BlacklistRule
from ..operators.dedup import _pack_order
from ..operators.extract import LINK_KINDS
from ..operators.seeds import split_seeds
from ..session import local_frame
from ..sources.statestore import SCHEMAS, StateStore
from . import multiwave
from .wave import CANON_ORDER, observed
from .wave import run_wave  # noqa: F401 — public name; perfbench traces crawl_job.run_wave

# waves (run) or tiers (run_concurrent) between the drivers' maintain()
# passes; also maintain()'s compaction threshold
COMPACT_EVERY = 16


class _WaveCap:
    """The wave-size cap of one crawl's `step` (CrawlJob `max_wave_urls`):
    a wave consumes only the first `limit` candidates in canonical
    candidate order; the remainder is re-derived next wave from the SAME
    committed depth-1 frontier and skipped up to the persisted
    packed-order cursor — a value comparison, so the skip is a codegen
    filter, not a rank. Batch numbering continues via base positions,
    fetch slots via the cross-wave host_slots budget, and the
    within-depth seen/status dedup via the committed url_seen — so a
    capped run converges to the exact uncapped final state. With no
    limit it only clears a stale cursor."""

    def __init__(self, cid: str, depth: int, limit: int | None, cursor: dict | None):
        self.cid, self.depth, self.limit = cid, depth, limit
        # the cursor of a prior capped sub-wave of THIS depth, if any
        resuming = bool(cursor) and int(cursor.get("depth", -1)) == depth
        self.cursor = cursor if resuming else None
        self.obs = Observation()
        self.caches: list = []
        self.has_more = False
        self.depth_accepted = 0

    def take(self, candidates: DataFrame, store) -> tuple[DataFrame, DataFrame | None]:
        """The candidates this wave consumes, and the per-group batch
        position bases of the depth's prior sub-waves (or None)."""
        if not self.limit:
            return candidates, None
        candidates = candidates.withColumn("_pk", _pack_order(CANON_ORDER))
        if self.cursor:
            candidates = candidates.filter(F.col("_pk") > int(self.cursor["after"]))
        # first `limit` rows of the remainder in canonical order:
        # distributed two-phase rank (no single-partition window); the
        # remaining-count and last-consumed-key observations ride the
        # wave's own action — zero extra jobs
        candidates = global_positions(
            candidates, group_cols=(), order_cols=("_pk",),
            out="_cpos", cache_registry=self.caches,
        )
        candidates = (
            candidates.observe(
                self.obs,
                F.count(F.lit(1)).alias("remaining"),
                F.max(F.when(F.col("_cpos") < self.limit, F.col("_pk"))).alias("last_pk"),
            )
            .filter(F.col("_cpos") < self.limit)
            .drop("_cpos", "_pk")
        )
        if not self.cursor:
            return candidates, None
        # continue batch numbering where the prior sub-wave of this
        # depth stopped (tiny aggregate, broadcast join)
        base_positions = (
            store.read("frontier")
            .filter((F.col("crawl_id") == self.cid) & (F.col("depth") == self.depth))
            .groupBy("crawl_id", "do_index")
            .agg(F.count(F.lit(1)).cast("long").alias("_base_pos"))
        )
        return candidates, base_positions

    def commit_meta(self, meta: dict, accepted: int) -> None:
        """After the wave ran: keep the crawl at this depth while
        candidates remain, and set or clear its cursor in `meta`."""
        self.depth_accepted = accepted + (
            int(self.cursor.get("depth_accepted", 0)) if self.cursor else 0
        )
        got = observed(self.obs) if self.limit else {}
        self.has_more = int(got.get("remaining") or 0) > (self.limit or 0)
        cursors = meta.setdefault("wave_cursors", {})
        if self.has_more:
            meta["next_depth"][self.cid] = self.depth
            cursors[self.cid] = {
                "depth": self.depth,
                "after": int(got["last_pk"]),
                "depth_accepted": self.depth_accepted,
            }
        else:
            cursors.pop(self.cid, None)

    def unpersist(self) -> None:
        for df in self.caches:
            df.unpersist()


class CrawlJob:
    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        docs: DataFrame,  # documents(doc_id, spans)
        blacklist: list[BlacklistRule] | None = None,
        robots: DataFrame | None = None,
        n_shards: int = 32,
        use_bloom: bool = False,
        distributed_rank: bool | str = "auto",
        hot_host_threshold: int | None = None,
        checkpoint_filters: bool = False,
        clock=None,
        max_wave_urls: int | None = None,
        indexer_blacklist: list[BlacklistRule] | None = None,
        bucketed_seen: bool | str = "auto",
        bucketed_seen_threshold_bytes: int = 128 << 20,
    ):
        """`distributed_rank`: True forces the range-partitioned
        two-phase ranking (batching + politeness), False forces the
        window formulation, "auto" (default) picks per wave from the
        PREVIOUS wave's accepted count (free — it rides the observe()
        counters): small waves skip the two range-shuffle sampling
        passes; big waves never hit a single-partition window. Both
        paths produce identical output (tests pin equality).

        `max_wave_urls`: wave-size cap / backpressure (the reference
        throttles at 100k queued messages, conf/config.properties:5 →
        SURVEY.md §4). When set, each wave consumes at most N candidate
        links in canonical order; the remainder stays pending at the
        SAME depth and is consumed by the following wave(s), with
        batch numbering, fetch slots, and the seen set carrying over so
        the capped crawl converges to the identical final state as the
        uncapped one (pinned by test_wave_size_cap_equals_uncapped).
        Bounds the per-wave shuffle/memory footprint when a link-farm
        depth explodes. None (default) = unbounded.

        `clock`: zero-arg callable returning epoch MILLISECONDS,
        sampled once at each wave's start; it feeds the lineage
        docname's loader-timestamp component (CrawlerListener.java:
        497-503) and politeness not_before_ms, and is persisted per
        wave in the commit meta (audit + resume provenance). Default
        None keeps the library deterministic (epoch 0) so the oracle
        equality surfaces stay reproducible; the CLI passes wall
        clock.

        `indexer_blacklist`: the reference's SECOND blacklist
        (grid.indexer.blacklist, default
        conf/indexer_blacklist_filetypes.txt) — same file format as
        the crawler blacklist, but it only flips matching URLs to the
        noindex lane (CrawlerListener.java:374-384); they are still
        crawled and expanded."""
        self.spark = spark
        self.store = StateStore(spark, store_root)
        self.docs = docs
        self.blacklist = blacklist or []
        self.indexer_blacklist = indexer_blacklist or []
        self.robots = robots
        self.n_shards = n_shards
        self.use_bloom = use_bloom
        # checkpointed seen filters (north star): build the bloom at
        # wave COMMIT (fold only the wave's delta), persist it in the
        # snapshot, probe it next wave — no O(seen) rebuild per wave.
        self.checkpoint_filters = checkpoint_filters
        self._seen_filters: dict[str, list] = {}  # cid -> [bloom, n, cap]
        self.distributed_rank = distributed_rank
        self.clock = clock
        self.max_wave_urls = max_wave_urls
        self._prev_accepted: dict[str, int] = {}
        self.hot_host_threshold = hot_host_threshold
        # bucketed seen mirror (sources/bucketed.py): keep url_seen +
        # crawl_status url_ids as url_id-bucketed catalog tables so
        # the per-wave D2/D3 anti-joins drop the seen-side Exchange
        # (measured 5.9x at 50M rows — BASELINE.md). Derived state:
        # appended O(delta) after each wave commit, fully rebuilt
        # whenever the store moved without us (resume, S8 deletes,
        # TTL sweeps, fresh session). Snapshot parquet stays the
        # source of truth; semantics are pinned equal by
        # tests/test_wave_oracle.py::test_bucketed_seen_equals_default.
        # "auto" (default) enables the mirror once the persistent seen
        # table outgrows `bucketed_seen_threshold_bytes` on disk (a
        # free OS-stat check per wave): below it the mirror's
        # write/catalog overhead outweighs a sub-second seen shuffle,
        # above it the amortized-bucketing win compounds every wave.
        # True/False force it on/off (tests; measurement).
        self.bucketed_seen = bucketed_seen
        self.bucketed_seen_threshold_bytes = bucketed_seen_threshold_bytes
        self._bucketed_cache: tuple[int, bool] | None = None  # (version, on)
        self._mirror_version: int | None = None  # store version mirrored
        import hashlib as _hashlib

        tag = _hashlib.md5(store_root.encode()).hexdigest()[:8]
        self._mirror_tables = {
            "url_seen": f"seen_mirror_{tag}",
            "crawl_status": f"status_mirror_{tag}",
        }
        self._mirror_root = store_root.rstrip("/") + "/bucketed_mirror"
        self.profiles: dict[str, dict] = {}
        # restore profiles from the last snapshot (resume path)
        meta = self.store.manifest().get("meta", {})
        for cid, pj in meta.get("profiles", {}).items():
            self.profiles[cid] = json.loads(pj)

    # ------------------------------------------------------------------
    def start(
        self,
        crawling_url: str,
        overrides: dict | None = None,
        now: datetime | None = None,
    ) -> list[str]:
        """Entry point 1 (SURVEY.md §3.1): seed a crawl; one crawl id
        PER seed URL (CrawlStartService.java:110-200). Returns the new
        crawl ids. Malformed seed pieces are dropped (badURLStrings).
        The seed split and the crawl_starts rows stay on the driver, so
        on a store without crawl_status commits the commit's write is
        the only Spark job."""
        now = now or datetime(2020, 1, 1, tzinfo=timezone.utc)
        profile = make_profile({**(overrides or {}), "crawlingURL": crawling_url})
        seeds = split_seeds([crawling_url])
        good = [r for r in seeds if r["url"] is not None]
        new_ids: list[str] = []
        start_rows = []
        for count, r in enumerate(good):
            single = build_crawl_start(profile, r["url"], count=count, now=now)
            cid = single["id"]
            self.profiles[cid] = single
            new_ids.append(cid)
            start_rows.append(
                (
                    cid,
                    single.get("user_id", "anonymous"),
                    single.get("mustmatch", ".*"),
                    single.get("collection", "user"),
                    single["start_url"],
                    single["start_ssld"],
                    json.dumps(single, default=str),
                )
            )
        starts = local_frame(self.spark, start_rows, SCHEMAS["crawl_starts"])
        # S8 — delete conflicting old status entries (see
        # _s8_surviving_status); a store with no crawl_status commits
        # has nothing to delete, so it gets no empty replace commit
        replaces = {}
        if self.store.manifest()["tables"].get("crawl_status"):
            replaces["crawl_status"] = self._s8_surviving_status(
                profile, start_rows
            )
        self.store.commit(
            appends={"crawl_starts": starts},
            replaces=replaces,
            meta=self._meta({cid: 0 for cid in new_ids}),
        )
        return new_ids

    def _s8_surviving_status(self, profile: dict, start_rows: list) -> DataFrame:
        """S8 — the crawl_status rows a crawl start keeps: conflicting
        old entries are deleted so the D3 exist-check does not block
        the re-crawl (CrawlStartService.java:141-173). Three delete
        rules:
          1. ALWAYS: the start URL's own entry by _id = md5(url)
             (:143-147)
          2. mustmatch=='.*': prior crawl_ids for the same start_url
             from the crawlstart index (limit 100 per url, :153-160),
             plus all entries with the same start_url / start_ssld
             (:162-166)
          3. else: entries whose crawl used the EXACT same mustmatch
             (:167-171) — the crawler doc's mustmatch_s equals its
             crawl_start's mustmatch, so this is a semi-join on
             crawl_id through the (tiny, broadcastable) crawl_starts
             dimension."""
        from ..functions.urlnorm import url_id as _url_id

        status = self.store.read("crawl_status")
        starts_tbl = self.store.read("crawl_starts")
        start_urls = sorted({s[4] for s in start_rows})
        sslds = sorted({s[5] for s in start_rows})
        keep = ~F.col("url_id").isin([_url_id(u) for u in start_urls])
        if profile.get("mustmatch", ".*") == ".*":
            # crawlstart-index lookup, limit 100 per start_url
            # (driver-side: crawl_starts is one metadata row per crawl)
            prior = (
                starts_tbl.filter(F.col("start_url").isin(start_urls))
                .select("start_url", "crawl_id")
                .collect()
            )
            by_url: dict[str, list[str]] = {}
            for r in prior:
                by_url.setdefault(r["start_url"], []).append(r["crawl_id"])
            prior_ids = sorted(
                {c for cs in by_url.values() for c in sorted(cs)[:100]}
            )
            if prior_ids:
                keep &= ~F.col("crawl_id").isin(prior_ids)
            keep &= ~(
                F.col("start_url").isin(start_urls)
                | F.col("start_ssld").isin(sslds)
            )
            return status.filter(keep)
        same_mm = (
            starts_tbl.filter(F.col("mustmatch") == profile.get("mustmatch"))
            .select("crawl_id")
            .distinct()
        )
        return status.filter(keep).join(same_mm, "crawl_id", "left_anti")

    # ------------------------------------------------------------------
    def _meta(self, next_depths: dict[str, int]) -> dict:
        prev = self.store.manifest().get("meta", {})
        nd = dict(prev.get("next_depth", {}))
        nd.update(next_depths)
        profiles = dict(prev.get("profiles", {}))
        for cid, p in self.profiles.items():
            profiles[cid] = json.dumps(p, default=str)
        return {
            "next_depth": nd,
            "profiles": profiles,
            # carried forward; _update_seen_filter overwrites one entry
            "seen_filters": dict(prev.get("seen_filters", {})),
            # carried forward; step()/step_all() overwrite per wave
            "wave_starts": dict(prev.get("wave_starts", {})),
            # carried forward; step() sets/clears per capped sub-wave
            "wave_cursors": dict(prev.get("wave_cursors", {})),
        }

    def _wave_start_ms(self) -> int:
        """Sample the wave-start clock (0 when no clock is injected —
        deterministic library default)."""
        return int(self.clock()) if self.clock is not None else 0

    # ---- checkpointed seen filters (north star) -------------------
    def _load_seen_filter(self, cid: str):
        """The UrlBloom committed by this crawl's previous wave (or
        None on the first wave / fresh process — resume reloads from
        the snapshot)."""
        ent = self._seen_filters.get(cid)
        if ent is None:
            loaded = self.store.load_seen_filter(cid)
            if loaded is None:
                return None
            bloom, m = loaded
            ent = self._seen_filters[cid] = [bloom, m["n"], m["capacity"]]
        return ent[0]

    def _update_seen_filter(
        self, cid: str, pc, meta: dict, delta, n_delta: int
    ) -> None:
        """Fold this wave's url_seen DELTA into the crawl's bloom and
        persist it BEFORE the manifest referencing it. `delta` is the
        wave's already-persisted seen stage (url_id column) and
        `n_delta` its row count from the wave's observe() counters —
        no re-read of the parquet the commit just wrote and no extra
        count() action. Amortized-growth rebuild: when fill passes 80%
        of capacity the filter is rebuilt 4× larger from the full seen
        table — O(seen) but only log-many times over a crawl's life;
        every other wave is O(delta).

        When neither an in-memory filter nor a stored snapshot exists
        the filter is BOOTSTRAPPED from the full committed url_seen
        table plus the delta — a crawl resumed with --checkpoint-filters
        after waves run without it would otherwise get a delta-only
        bloom whose negatives bypass the exact anti-join and re-crawl
        already-seen URLs."""
        from ..functions.bloom import UrlBloom, fold_into

        delta = delta.select("url_id")
        bootstrap = self._load_seen_filter(cid) is None
        if bootstrap:
            # no snapshot: prior committed seen rows (if any) must be
            # folded in, not just this wave's delta
            n = self.store.read("url_seen").filter(F.col("crawl_id") == cid).count()
            cap = max(1 << 17, 4 * (n + n_delta))
        else:
            bloom, n, cap = self._seen_filters[cid]
        n += n_delta
        if bootstrap or n > 0.8 * cap:
            if n > 0.8 * cap:
                cap = max(cap * 4, 2 * n)
            bloom = UrlBloom(cap, fpp=0.01)
            full = (
                self.store.read("url_seen")
                .filter(F.col("crawl_id") == cid)
                .select("url_id")
                .unionByName(delta)
            )
            fold_into(bloom, full)
        elif n_delta:
            fold_into(bloom, delta)
        entry = self.store.write_seen_filter(cid, bloom, n, cap, pc)
        meta.setdefault("seen_filters", {})[cid] = entry
        self._seen_filters[cid] = [bloom, n, cap]

    def _candidates(self, depths: dict[str, int]) -> DataFrame:
        """Candidate links of one tier, each crawl at its own depth
        ({crawl_id: depth}): rows of (crawl_id, depth, parent_ini,
        parent_batch_no, parent_batch_pos, span_offset, url_raw).

        Depth 0 is S2 — the rootasset graph: one canonical link = the
        start URL (CrawlStartService.java:186-191). Depth d > 0 is the
        links of documents fetched for the crawl's frontier rows at
        d-1, in canonical parent order (SURVEY.md §5 crawl-order
        spec). However many crawls the tier holds, the seed rows are
        one local frame and the expansions one frontier scan (a
        pushed-down (depth, crawl_id) predicate) plus one docs join."""
        seeds = [
            (cid, 0, 0, 0, 0, 0, self.profiles[cid]["start_url"])
            for cid, d in depths.items() if d == 0
        ]
        by_parent_depth: dict[int, list[str]] = {}
        for cid, d in depths.items():
            if d > 0:
                by_parent_depth.setdefault(d - 1, []).append(cid)
        parts = []
        if seeds:
            parts.append(local_frame(
                self.spark,
                seeds,
                "crawl_id string, depth int, parent_ini int, "
                "parent_batch_no long, parent_batch_pos int, "
                "span_offset int, url_raw string",
            ))
        if by_parent_depth:
            wanted = None
            for d, cids in sorted(by_parent_depth.items()):
                cond = (F.col("depth") == d) & F.col("crawl_id").isin(sorted(cids))
                wanted = cond if wanted is None else wanted | cond
            parents = self.store.read("frontier").filter(wanted).select(
                "crawl_id",
                (F.col("depth") + 1).alias("depth"),
                F.col("url").alias("doc_id"),
                (1 - F.col("do_index").cast("int")).alias("parent_ini"),
                F.col("batch_no").alias("parent_batch_no"),
                F.col("batch_pos").alias("parent_batch_pos"),
            )
            order_cols = (
                "crawl_id", "depth", "parent_ini", "parent_batch_no",
                "parent_batch_pos",
            )
            # same link filter as operators.extract.extract_links, but
            # carrying the composite parent-order columns instead of a
            # single dense ordinal (no global window needed):
            parts.append(
                self.docs.join(parents, "doc_id", "inner")
                .select(*order_cols, F.explode("spans").alias("span"))
                .filter(
                    F.col("span.kind").isin(LINK_KINDS)
                    & F.col("span.text").isNotNull()
                )
                .select(
                    *order_cols,
                    F.col("span.offset").alias("span_offset"),
                    F.col("span.text").alias("url_raw"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------------------
    def _base_slots(self, cids: list[str]):
        """Cumulative per-host fetch-slot bases from the log-structured
        host_slots table (sum of per-wave appends); a one-crawl tier
        reads only its crawl's rows."""
        hs = self.store.read("host_slots")
        if len(cids) == 1:
            hs = hs.filter(F.col("crawl_id") == cids[0])
        return hs.groupBy("crawl_id", "host").agg(F.sum("n").alias("next_slot"))

    # --- bucketed seen mirror (auto past threshold; see __init__) ----

    def _bucketed_enabled(self) -> bool:
        """Resolve the bucketed-seen decision for the CURRENT store
        version. "auto" compares url_seen's on-disk bytes against the
        threshold — cached per version so the os.walk runs once per
        commit, and monotone within a crawl: once on, it stays on
        (the seen table only shrinks via TTL sweeps/S8 deletes, and
        flapping the mirror off would throw away a valid rebuild)."""
        if self.bucketed_seen != "auto":
            return bool(self.bucketed_seen)
        v = self.store.current_version()
        if self._bucketed_cache and self._bucketed_cache[0] == v:
            return self._bucketed_cache[1]
        prev_on = bool(self._bucketed_cache and self._bucketed_cache[1])
        on = prev_on or (
            self.store.table_bytes("url_seen")
            >= self.bucketed_seen_threshold_bytes
        )
        self._bucketed_cache = (v, on)
        return on

    def _mirror_marker(self) -> dict | None:
        import os

        p = os.path.join(self._mirror_root, "marker.json")
        try:
            with open(p) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return None

    def _write_mirror_marker(self, version: int, n_buckets: int) -> None:
        import os

        os.makedirs(self._mirror_root, exist_ok=True)
        tmp = os.path.join(self._mirror_root, "marker.json.tmp")
        with open(tmp, "w") as fh:
            json.dump({"version": version, "n_buckets": n_buckets}, fh)
        os.replace(tmp, os.path.join(self._mirror_root, "marker.json"))

    def _refresh_mirror(self) -> None:
        """Make the bucketed mirror reflect the store's CURRENT
        version: no-op when the marker matches (the steady state —
        per-wave deltas keep it current via _mirror_append); full
        rebuild (one url_id shuffle per table — the same shuffle an
        unmirrored wave pays ANYWAY) whenever the store moved without
        us: fresh session (catalog lost), resume, S8 start-deletes,
        TTL sweeps/compaction, or a shuffle-partition change (bucket
        count must equal partitions for the exchange to drop)."""
        import os
        import shutil

        from ..sources.bucketed import write_bucketed

        v = self.store.current_version()
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        m = self._mirror_marker()
        if (
            m
            and m.get("version") == v
            and m.get("n_buckets") == n
            and all(
                self.spark.catalog.tableExists(t)
                for t in self._mirror_tables.values()
            )
        ):
            self._mirror_version = v
            return
        write_bucketed(
            self.store.read("url_seen"),
            self._mirror_tables["url_seen"],
            f"{self._mirror_root}/url_seen_v{v}",
            n,
        )
        write_bucketed(
            self.store.read("crawl_status").select("url_id"),
            self._mirror_tables["crawl_status"],
            f"{self._mirror_root}/crawl_status_v{v}",
            n,
        )
        # sweep BEFORE publishing the marker: a crash in between just
        # forces another rebuild (safe); the reverse order could leave
        # a current marker alongside stale _v{old} dirs forever
        for d in os.listdir(self._mirror_root):
            full = os.path.join(self._mirror_root, d)
            if (
                os.path.isdir(full)
                and ("_v" in d)
                and not d.endswith(f"_v{v}")
            ):
                shutil.rmtree(full, ignore_errors=True)
        self._write_mirror_marker(v, n)
        self._mirror_version = v

    def _seen_inputs(self, cids: list[str]):
        """The wave's two persistent dedup inputs (url_seen — only the
        crawl's own rows for a one-crawl tier, whose seen anti-join is
        keyed on bare url_id — and ALL crawl_status url_ids) — from the
        bucketed mirror when enabled (seen-side Exchange drops from the
        D2/D3 anti-joins), else straight from the snapshot store.
        Contents are identical either way (equality pinned in
        test_wave_oracle)."""
        if self._bucketed_enabled():
            self._refresh_mirror()
            seen = self.spark.table(self._mirror_tables["url_seen"])
            status_ids = self.spark.table(
                self._mirror_tables["crawl_status"]
            ).select("url_id")
        else:
            seen = self.store.read("url_seen")
            status_ids = self.store.read("crawl_status").select("url_id")
        if len(cids) == 1:
            seen = seen.filter(F.col("crawl_id") == cids[0])
        return seen, status_ids

    def _mirror_append(self, version: int, seen_delta, status_delta) -> None:
        """O(delta) mirror maintenance after a successful commit at
        `version`: valid only when the mirror reflected version-1 at
        read time (this step refreshed it); any other gap → leave the
        marker stale and the next _refresh_mirror rebuilds."""
        if not self._bucketed_enabled() or self._mirror_version != version - 1:
            return
        from ..sources.bucketed import append_bucketed

        m = self._mirror_marker()
        if not m or m.get("version") != version - 1:
            return
        n = int(m["n_buckets"])
        import os

        # a failed sweep can leave more than one rebuild dir: the
        # catalog table always points at the NEWEST (highest-version)
        # one — appending anywhere else would either AnalysisException
        # on the location mismatch or drop the delta into a dead dir
        versions = [
            int(d[len("url_seen_v"):])
            for d in os.listdir(self._mirror_root)
            if d.startswith("url_seen_v")
            and d[len("url_seen_v"):].isdigit()
        ]
        if not versions:
            return
        base_v = max(versions)
        append_bucketed(
            seen_delta,
            self._mirror_tables["url_seen"],
            f"{self._mirror_root}/url_seen_v{base_v}",
            n,
        )
        append_bucketed(
            status_delta.select("url_id"),
            self._mirror_tables["crawl_status"],
            f"{self._mirror_root}/crawl_status_v{base_v}",
            n,
        )
        self._write_mirror_marker(version, n)
        self._mirror_version = version

    def _rank_mode(self, prev_accepted: int | None) -> bool:
        """Resolve the per-wave ranking strategy (see __init__ doc).
        ~8 candidate links per accepted parent; the two-phase rank
        starts paying for itself around 200k candidates."""
        if self.distributed_rank == "auto":
            return prev_accepted is not None and prev_accepted * 8 > 200_000
        return bool(self.distributed_rank)

    def _tier(
        self, depths: dict[str, int], cap: _WaveCap | None = None, seen_filter=None
    ) -> dict[str, int]:
        """Run ONE wave for the crawls of `depths` ({crawl_id: depth}) —
        a tier of k crawls, k = 1 for `step` — and commit it as one
        snapshot. The candidates of all crawls come from one builder
        call (one frontier scan and one docs join for the whole tier);
        the plan is plans/wave.py's, literals for k = 1 and a broadcast
        profile dimension for k > 1. Returns {crawl_id: accepted} of the
        crawls that had candidates."""
        cids = list(depths)
        candidates = self._candidates(depths)
        base_positions = None
        if cap is not None:
            candidates, base_positions = cap.take(candidates, self.store)
        seen, status_ids = self._seen_inputs(cids)
        wave_start_ms = self._wave_start_ms()
        res = multiwave.run_wave_multi(
            candidates, {c: self.profiles[c] for c in cids}, depths,
            seen=seen, status_ids=status_ids,
            blacklist=self.blacklist, robots=self.robots,
            n_shards=self.n_shards, use_bloom=self.use_bloom,
            distributed_rank=self._rank_mode(
                sum(self._prev_accepted.get(c, 0) for c in cids) or None
            ),
            hot_host_threshold=self.hot_host_threshold,
            wave_start_ms=wave_start_ms,
            base_slots=self._base_slots(cids),
            seen_filter=seen_filter,
            base_positions=base_positions,
            indexer_blacklist=self.indexer_blacklist,
        )
        # Staged commit: the status write is the ONE action that
        # materializes the whole wave plan (it unions the rejected and
        # accepted branches); frontier and seen then reuse the persisted
        # stages. The metrics rows come from the observe() counters
        # (k = 1, zero jobs) or one grouped job (k > 1).
        pc = self.store.begin()
        pc.append("crawl_status", res.status)
        pc.append("frontier", res.frontier)
        pc.append("url_seen", res.seen)
        # cross-wave politeness budget: log this wave's per-host counts
        # (cheap aggregate over the cached frontier stage)
        pc.append(
            "host_slots",
            res.frontier.groupBy("crawl_id", "host").agg(
                F.count(F.lit(1)).alias("n")
            ),
        )
        pc.append("crawl_metrics", res.metrics_df())
        # the same rows give the continue decision and the per-crawl
        # novel counts: every novel row — accepted or rejected — is a
        # url_seen delta row (add-before-filter)
        accepted: dict[str, int] = {}
        novel: dict[str, int] = {}
        for r in res.metrics_rows():
            m = dict(zip(SCHEMAS["crawl_metrics"].names, r))
            accepted[m["crawl_id"]] = m["accepted"]
            novel[m["crawl_id"]] = (
                m["accepted"] + m["deduped_persistent"] + m["rejected_filter"]
                + m["rejected_blacklist"] + m["rejected_robots"]
            )
        meta = self._meta({c: d + 1 for c, d in depths.items()})
        for c in cids:
            # wave-start provenance: the clock sample that stamped this
            # wave's lineage docnames and politeness not_before_ms
            meta["wave_starts"][c] = wave_start_ms
        if cap is not None:
            cap.commit_meta(meta, accepted.get(cap.cid, 0))
        if self.checkpoint_filters:
            # keep the stored blooms covering EVERY committed url_seen
            # row, whichever driver committed it: a stale filter's
            # negatives would bypass the exact anti-join in a later
            # step() — re-crawl duplicates
            for c in cids:
                self._update_seen_filter(
                    c, pc, meta, res.seen.filter(F.col("crawl_id") == c),
                    novel.get(c, 0),
                )
        pc.finalize(meta=meta)
        self._mirror_append(pc.version, res.seen, res.status)
        res.unpersist()
        if cap is not None:
            cap.unpersist()
        for c in cids:
            self._prev_accepted[c] = accepted.get(c, 0)
        return accepted

    def step(self, cid: str, max_wave_urls: int | None = None) -> bool:
        """Run one wave for crawl `cid`: the one-crawl tier plus the two
        things only it has — the wave-size cap with its cursor
        (`max_wave_urls` here, or the job-level default; see _WaveCap)
        and the checkpointed seen-filter probe. Returns False when the
        crawl is finished: depth gate F5, or a depth that accepted
        nothing (an empty wave commits no rows)."""
        meta = self.store.manifest().get("meta", {})
        depth = int(meta.get("next_depth", {}).get(cid, 0))
        max_depth = int(self.profiles[cid].get("crawlingDepth", 3))
        if depth > max_depth:  # F5 depth gate (CrawlerListener.java:215-224)
            return False
        cap = _WaveCap(
            cid, depth,
            max_wave_urls if max_wave_urls is not None else self.max_wave_urls,
            meta.get("wave_cursors", {}).get(cid),
        )
        seen_filter = self._load_seen_filter(cid) if self.checkpoint_filters else None
        self._tier({cid: depth}, cap=cap, seen_filter=seen_filter)
        if cap.has_more:
            return True  # same depth continues next wave
        return cap.depth_accepted > 0 and depth < max_depth

    # log-structured tables that accumulate one commit-dir per wave;
    # read cost grows with commit count until compacted
    _LOG_TABLES = ("url_seen", "host_slots", "crawl_status", "frontier", "crawl_metrics")

    def maintain(
        self,
        max_commits: int = COMPACT_EVERY,
        keep_snapshots: int = 2,
        seen_ttl_days: float | None = None,
        now_ms: int | None = None,
    ) -> None:
        """Compact log-structured tables whose commit-dir count exceeds
        `max_commits`, then expire old snapshots and reclaim orphaned
        dirs — bounds both read amplification (dirs scanned per read)
        and disk growth over a long crawl. Safe mid-crawl: compaction
        commits atomically and resume always targets the newest
        manifest.

        Seen-set TTL (the reference's 7-day double-cache sweep,
        CrawlerListener.java:84-85, 96-108): url_seen rows whose
        `seen_at_ms` is older than `seen_ttl_days` (default
        config.SEEN_TTL_DAYS) relative to `now_ms` (default: the job
        clock; 0 without an injected clock → sweep inert, keeping the
        deterministic library default) are dropped during maintenance.
        A crawl whose rows were expired also has its checkpointed seen
        filter invalidated — blooms can't delete, so the next wave
        bootstrap-rebuilds the filter from the swept table. Post-TTL
        re-encounters re-enter D2 (fresh url_seen row); the persistent
        status table still guards the frontier, exactly like the
        reference's exist-check after its double cache forgets."""
        self._expire_seen(seen_ttl_days, now_ms)
        man = self.store.manifest()
        for t in self._LOG_TABLES:
            if len(man["tables"].get(t, [])) > max_commits:
                if t == "host_slots":
                    self.store.compact(
                        t,
                        aggregate=lambda df: df.groupBy("crawl_id", "host").agg(
                            F.sum("n").alias("n")
                        ),
                    )
                else:
                    self.store.compact(t)
        self.store.expire_snapshots(keep_last=max(1, keep_snapshots))
        self.store.rollback_orphans()

    def _expire_seen(
        self, seen_ttl_days: float | None, now_ms: int | None
    ) -> None:
        """TTL sweep for url_seen (see maintain docstring). Cheap when
        nothing is expired: one tiny per-crawl min(seen_at_ms)
        aggregate decides whether the O(table) rewrite runs at all."""
        from ..config import SEEN_TTL_DAYS

        ttl_days = SEEN_TTL_DAYS if seen_ttl_days is None else seen_ttl_days
        now = self._wave_start_ms() if now_ms is None else int(now_ms)
        cutoff = now - int(ttl_days * 86_400_000)
        if cutoff <= 0:
            return
        expired_cids = [
            r["crawl_id"]
            for r in self.store.read("url_seen")
            .groupBy("crawl_id")
            .agg(F.min("seen_at_ms").alias("_oldest"))
            .filter(F.col("_oldest") < cutoff)
            .collect()
        ]
        if not expired_cids:
            return
        self.store.compact(
            "url_seen",
            aggregate=lambda df: df.filter(
                F.col("seen_at_ms").isNull() | (F.col("seen_at_ms") >= cutoff)
            ),
        )
        # blooms can't delete: drop the affected crawls' checkpointed
        # filters (memory + manifest) so the next wave bootstrap-
        # rebuilds from the swept table instead of over-filtering
        meta = self.store.manifest().get("meta", {})
        filters = dict(meta.get("seen_filters", {}))
        touched = False
        for cid in expired_cids:
            self._seen_filters.pop(cid, None)
            if filters.pop(cid, None) is not None:
                touched = True
        if touched:
            meta = dict(meta)
            meta["seen_filters"] = filters
            pc = self.store.begin()
            pc.finalize(meta=meta)

    def _drive(self, waves, compact_every: int = COMPACT_EVERY) -> None:
        """Exhaust `waves` (one item per committed wave or tier),
        running `maintain()` every `compact_every` items and once at the
        end (0 = never), so commit dirs and manifests stay bounded on
        long crawls under either driver."""
        n = 0
        for _ in waves:
            n += 1
            if compact_every and n % compact_every == 0:
                self.maintain(max_commits=compact_every)
        if compact_every and n:
            self.maintain(max_commits=compact_every)

    def run(
        self, crawl_ids: list[str] | None = None, compact_every: int = COMPACT_EVERY
    ) -> None:
        """BFS all waves of the given crawls (default: all known), one
        crawl after the other, with `maintain()` every `compact_every`
        waves (0 = never)."""

        def waves():
            for cid in crawl_ids or list(self.profiles):
                while self.step(cid):
                    yield

        self._drive(waves(), compact_every)

    # ------------------------------------------------------------------
    def step_all(self, crawl_ids: list[str]) -> list[str]:
        """Run ONE tier for every active crawl as a single combined
        wave (`_tier`). Returns the crawl ids still active after the
        tier."""
        nd = self.store.manifest().get("meta", {}).get("next_depth", {})
        max_depth = {c: int(self.profiles[c].get("crawlingDepth", 3)) for c in crawl_ids}
        depths = {
            c: int(nd.get(c, 0)) for c in crawl_ids if int(nd.get(c, 0)) <= max_depth[c]
        }
        if not depths:
            return []
        accepted = self._tier(depths)
        return [
            c for c, d in depths.items() if accepted.get(c, 0) > 0 and d < max_depth[c]
        ]

    def run_concurrent(self, crawl_ids: list[str] | None = None) -> None:
        """BFS all crawls together, one combined wave per tier, with
        run()'s maintenance cadence (every COMPACT_EVERY tiers and once
        at the end).

        The wave-size cap (`max_wave_urls`) and the checkpointed-filter
        probe apply to the single-crawl `step()` path only: a combined
        tier has no per-crawl cursor. A crawl left mid-depth by a capped
        run should be finished with `run()` before switching to the
        concurrent driver — step_all would reprocess the depth's
        consumed candidates (harmless for the seen set, which dedups,
        but batch numbering restarts)."""

        def tiers():
            active = list(crawl_ids or self.profiles)
            while active:
                active = self.step_all(active)
                yield

        self._drive(tiers())

    # ------------------------------------------------------------------
    def resume(self) -> None:
        """Continue every crawl from the last committed snapshot."""
        self.run(list(self.profiles))

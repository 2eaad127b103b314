"""The three benchmark workloads and their correctness checks.

Each workload generates its corpus from the seed (`generate`), loads it
into the session (`setup_inputs`, repeated to time set-up), warms the
engine once (`warm_up`), then runs timed operations (`op`). An operation returns an `OpResult`; `check` verifies
it outside the timed window and returns the list of mismatches.

* wave_large — one `run_wave` over every link of the corpus against a
  preloaded seen set and status set, committed through the state store.
  Per-URL work in `functions` and `operators` dominates.
* crawl_concurrent — `N_CONCURRENT` crawls from three `start()` calls
  with three profiles, driven by `run_concurrent`: the only workload in
  `plans.multiwave`. Per-tier fixed cost dominates.
* crawl_deep — `CrawlJob.start` + `run` from one seed to `DEEP_DEPTH`:
  per-wave fixed cost of the single-crawl loop. Runs by hand; it is not
  in BENCHMARK.json (see README.md).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import corpus as corpus_mod
from host import tree_cpu_s
from pyspark.sql import functions as F

from yacy_grid_crawler_spark.config import build_crawl_start, make_profile
from yacy_grid_crawler_spark.oracle.spec import crawl as oracle_crawl
from yacy_grid_crawler_spark.plans import wave as wave_mod
from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob
from yacy_grid_crawler_spark.sources.statestore import StateStore

# sizes: chosen so one run of each workload ends well inside a minute
# on a 4-core box (see README.md)
WAVE_DOCS = 48_000
DEEP_DOCS = 6_000  # two components: the crawl and the warm-up crawl
DEEP_DEPTH = 4
N_CONCURRENT = 8
CONCURRENT_DOCS_PER_CRAWL = 400

# crawl_concurrent: three start() calls, one profile each; the crawls
# stop at different depths, so the last tier carries a subset of them
PROFILES = (
    {"priority": 0, "crawlingDepth": 2},
    {"priority": 1, "crawlingDepth": 1, "mustmatch": r"http://[^/]+/page/.*"},
    {
        "priority": 0, "crawlingDepth": 2,
        "mustnotmatch": r".*\.(jpg|png)|.*/private/.*",
        "indexmustnotmatch": r".*/page/[0-9]*[05]\.html",
    },
)

COUNT_KEYS = (
    "extracted", "parsed_ok", "deduped_session", "deduped_persistent",
    "rejected_filter", "rejected_blacklist", "rejected_robots",
    "accepted", "do_index",
)


@dataclass
class OpResult:
    complete_s: float
    waves_s: list[float]  # per-wave (crawl_deep) / per-tier latency
    cpu_s: float
    store_root: str
    counts: dict  # summed engine counters (COUNT_KEYS)
    state: dict = field(default_factory=dict)  # whatever check() needs


class Workload:
    name = ""

    def __init__(self, spark, work, seed: int, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.n_shards = 2 * cores
        self._cached: list = []
        self._n_stores = 0

    # ---- inputs ------------------------------------------------------
    corpus_shape: tuple[int, int, int] = (0, 0, 0)  # docs, components, hosts each

    def generate(self) -> None:
        """Generate the seeded corpus and write it as parquet (once)."""
        n_docs, n_components, hosts = self.corpus_shape
        self.corpus = corpus_mod.generate(
            self.seed, n_docs, n_components=n_components, hosts_per_component=hosts
        )
        self.corpus_path = os.path.join(self.work.path, "corpus.parquet")
        self.corpus.write_parquet(self.corpus_path)
        self.rules = corpus_mod.blacklist_rules(self.seed)

    def setup_inputs(self) -> None:
        """Load the corpus and robots rules into the session (repeated
        to time set-up; each call replaces the previous inputs)."""
        self.release_inputs()
        docs = self.spark.read.parquet(self.corpus_path).persist()
        docs.count()
        robots = self.spark.createDataFrame(
            [(h, r["disallow"], r["delay_ms"]) for h, r in self.corpus.robots.items()],
            "host string, disallow_prefixes array<string>, crawl_delay_ms int",
        ).persist()
        robots.count()
        self._cached += [docs, robots]
        self.docs, self.robots = docs, robots

    def release_inputs(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def new_store(self) -> str:
        self._n_stores += 1
        return os.path.join(self.work.path, f"store-{self._n_stores}")

    def candidates(self, docs):
        """Every link of `docs` as one wave's candidate input, parents
        in doc order (the shape `bench.py` measures)."""
        return (
            docs.select(
                F.lit(0).alias("parent_ini"),
                F.monotonically_increasing_id().alias("parent_batch_no"),
                F.lit(0).alias("parent_batch_pos"),
                F.explode("spans").alias("span"),
            )
            .select(
                "parent_ini", "parent_batch_no", "parent_batch_pos",
                F.col("span.offset").alias("span_offset"),
                F.col("span.text").alias("url_raw"),
            )
            .filter(F.col("url_raw").isNotNull())
        )

    def probe_inputs(self) -> None:
        """Stage input for `trace.operator_probes`: every link of the
        corpus as one wave, an empty seen set and a default profile
        (wave_large already has its own)."""
        if hasattr(self, "cands"):
            return
        self.cands = self.candidates(self.docs).persist()
        self.cands.count()
        self._cached.append(self.cands)
        self.seen = self.spark.createDataFrame([], "url_id string")
        self.profile = build_crawl_start(make_profile({}), self.corpus.doc_ids[0])

    # ---- shared crawl helpers -----------------------------------------
    def _job(self, root: str) -> CrawlJob:
        return CrawlJob(
            self.spark, root, self.docs, blacklist=self.rules,
            robots=self.robots, n_shards=self.n_shards,
        )

    @staticmethod
    def _time_calls(job: CrawlJob, attr: str, sink: list) -> None:
        """Record the latency of every `job.<attr>` call into `sink`
        (instance attribute: `run`/`run_concurrent` look it up on self)."""
        orig = getattr(job, attr)

        def timed(*a, **k):
            t0 = time.perf_counter()
            try:
                return orig(*a, **k)
            finally:
                sink.append(time.perf_counter() - t0)

        setattr(job, attr, timed)

    @staticmethod
    def _store_counts(store: StateStore) -> dict:
        row = store.read("crawl_metrics").agg(
            *[F.sum(k).alias(k) for k in COUNT_KEYS]
        ).collect()[0]
        return {k: int(row[k] or 0) for k in COUNT_KEYS}

    def _check_against_oracle(self, store: StateStore, crawls: dict) -> list[str]:
        """Seen set, status table and canonical frontier order of each
        crawl in `crawls` ({crawl_id: (seed_url, profile)}) against
        `oracle.spec.crawl` on the same corpus, blacklist and robots."""
        docs = self.corpus.oracle_docs()
        blk = corpus_mod.oracle_blacklist(self.rules)
        seen, status, frontier = {}, {}, {}
        for r in store.read("url_seen").select("crawl_id", "url_id").collect():
            seen.setdefault(r[0], []).append(r[1])
        for r in store.read("crawl_status").select(
            "crawl_id", "url_id", "status", "comment_class"
        ).collect():
            status.setdefault(r[0], {})[r[1]] = (r[2], r[3])
        cols = (
            "depth", "lane", "do_index", "batch_no", "batch_pos", "url",
            "url_id", "fetch_slot", "not_before_ms",
        )
        for r in store.read("frontier").select("crawl_id", *cols).collect():
            frontier.setdefault(r[0], []).append(tuple(r[1:]))
        errors = []
        for cid, (seed_url, profile) in crawls.items():
            o = oracle_crawl(docs, [seed_url], profile, blacklist=blk,
                             robots=self.corpus.robots)
            e_seen = seen.get(cid, [])
            if len(e_seen) != len(set(e_seen)):
                errors.append(f"{cid}: duplicate url_seen rows")
            if set(e_seen) != o.seen:
                errors.append(
                    f"{cid}: seen set {len(set(e_seen))} rows, oracle {len(o.seen)}"
                )
            if status.get(cid, {}) != o.status:
                errors.append(f"{cid}: status table differs from oracle")
            key = lambda t: (t[0], not t[2], t[3], t[4])
            o_rows = sorted(
                (tuple(r[c] for c in cols) for r in o.frontier), key=key
            )
            if sorted(frontier.get(cid, []), key=key) != o_rows:
                errors.append(f"{cid}: frontier order differs from oracle")
            if not o.frontier:
                errors.append(f"{cid}: empty crawl")
        return errors


class WaveLarge(Workload):
    name = "wave_large"

    corpus_shape = (WAVE_DOCS, 16, 8)

    def setup_inputs(self) -> None:
        super().setup_inputs()
        self.profile = build_crawl_start(
            make_profile({"crawlingDepth": 8}), self.corpus.doc_ids[0]
        )
        cands = self.candidates(self.docs).persist()
        self.n_candidates = cands.count()
        # 25% of the corpus is already seen; another 10% already has a
        # status row (the persistent exist-check's hits)
        bucket = F.pmod(F.xxhash64(F.lit(self.seed), "doc_id"), F.lit(20))
        seen = self.docs.filter(bucket < 5).select(
            F.lit(self.profile["id"]).alias("crawl_id"),
            F.md5("doc_id").alias("url_id"),
            F.lit(0).alias("first_depth"),
        ).persist()
        status = self.docs.filter((bucket >= 5) & (bucket < 7)).select(
            F.md5("doc_id").alias("url_id")
        ).persist()
        seen.count()
        status.count()
        self._cached += [cands, seen, status]
        self.cands, self.seen, self.status = cands, seen, status

    def warm_up(self) -> None:
        res = self.op()
        shutil.rmtree(res.store_root, ignore_errors=True)

    def op(self) -> OpResult:
        root = self.new_store()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        res = wave_mod.run_wave(
            self.cands, self.profile, seen=self.seen, status_ids=self.status,
            depth=1, blacklist=self.rules, robots=self.robots,
            n_shards=self.n_shards, distributed_rank=True,
            hot_host_threshold=max(self.n_candidates // 100, 1000),
        )
        # the commit CrawlJob.step makes for one wave
        pc = StateStore(self.spark, root).begin()
        pc.append("crawl_status", res.status)
        pc.append("frontier", res.frontier)
        pc.append("url_seen", res.seen)
        counts = dict(res.resolve())
        pc.append("crawl_metrics", res.metrics_df())
        pc.finalize(meta={})
        complete = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        res.unpersist()
        return OpResult(complete, [complete], cpu, root, counts)

    def check(self, res: OpResult) -> list[str]:
        c = res.counts
        store = StateStore(self.spark, res.store_root)
        fr = store.read("frontier").agg(
            F.count(F.lit(1)), F.countDistinct("url_id")
        ).collect()[0]
        n_status = store.read("crawl_status").count()
        n_seen = store.read("url_seen").count()
        rejected = (
            c["rejected_filter"] + c["rejected_blacklist"] + c["rejected_robots"]
        )
        errors = []
        if c["extracted"] != self.n_candidates:
            errors.append(f"extracted {c['extracted']} != {self.n_candidates} candidates")
        if fr[0] != c["accepted"]:
            errors.append(f"frontier rows {fr[0]} != accepted {c['accepted']}")
        if fr[1] != fr[0]:
            errors.append(f"frontier url_ids not distinct ({fr[1]} of {fr[0]})")
        if n_status != c["accepted"] + rejected:
            errors.append(f"status rows {n_status} != accepted + rejected")
        if n_seen != c["accepted"] + rejected + c["deduped_persistent"]:
            errors.append(f"seen rows {n_seen} != novel rows")
        if min(c["accepted"], rejected, c["deduped_persistent"]) == 0:
            errors.append(f"degenerate wave: {c}")
        return errors


class CrawlDeep(Workload):
    name = "crawl_deep"

    corpus_shape = (DEEP_DOCS, 2, 32)

    def _crawl(self, seed_url: str, depth: int) -> OpResult:
        root = self.new_store()
        job = self._job(root)
        waves: list[float] = []
        self._time_calls(job, "step", waves)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        cids = job.start(seed_url, {"crawlingDepth": depth})
        job.run(cids)
        complete = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        crawls = {cid: (seed_url, job.profiles[cid]) for cid in cids}
        return OpResult(complete, waves, cpu, root, self._store_counts(job.store),
                        {"crawls": crawls})

    def warm_up(self) -> None:
        res = self._crawl(self.corpus.component_doc(1), 1)
        shutil.rmtree(res.store_root, ignore_errors=True)

    def op(self) -> OpResult:
        return self._crawl(self.corpus.component_doc(0), DEEP_DEPTH)

    def check(self, res: OpResult) -> list[str]:
        return self._check_against_oracle(
            StateStore(self.spark, res.store_root), res.state["crawls"]
        )


class CrawlConcurrent(Workload):
    name = "crawl_concurrent"

    # one component per crawl plus one for the warm-up crawl
    corpus_shape = (
        (N_CONCURRENT + 1) * CONCURRENT_DOCS_PER_CRAWL, N_CONCURRENT + 1, 8
    )

    def _crawls(self, seed_groups: list[list[str]], max_depth: int) -> OpResult:
        root = self.new_store()
        job = self._job(root)
        tiers: list[float] = []
        self._time_calls(job, "step_all", tiers)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        cids, seeds = [], {}
        for overrides, group in zip(PROFILES, seed_groups):
            depth = min(overrides["crawlingDepth"], max_depth)
            new = job.start("|".join(group), {**overrides, "crawlingDepth": depth})
            seeds.update(zip(new, group))
            cids += new
        job.run_concurrent(cids)
        complete = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        crawls = {cid: (seeds[cid], job.profiles[cid]) for cid in cids}
        return OpResult(complete, tiers, cpu, root, self._store_counts(job.store),
                        {"crawls": crawls})

    def warm_up(self) -> None:
        res = self._crawls([[self.corpus.component_doc(N_CONCURRENT)]], 0)
        shutil.rmtree(res.store_root, ignore_errors=True)

    def op(self) -> OpResult:
        seeds = [self.corpus.component_doc(c) for c in range(N_CONCURRENT)]
        groups = [seeds[g :: len(PROFILES)] for g in range(len(PROFILES))]
        return self._crawls(groups, max(p["crawlingDepth"] for p in PROFILES))

    def check(self, res: OpResult) -> list[str]:
        errors = self._check_against_oracle(
            StateStore(self.spark, res.store_root), res.state["crawls"]
        )
        if len(res.state["crawls"]) != N_CONCURRENT:
            errors.append(f"{len(res.state['crawls'])} crawls started")
        return errors


WORKLOADS = {w.name: w for w in (WaveLarge, CrawlDeep, CrawlConcurrent)}

"""Concurrent multi-crawl tier waves (plans/multiwave.py): one
combined Spark wave per tier must produce the exact same committed
state as sequential per-crawl BFS runs.

Exactness precondition (documented in multiwave.py): the crawls'
footprints must be disjoint, because the persistent exist-check (D3)
sees a tier-start snapshot — so the fixture is two corpora on
disjoint host domains, crawled at DIFFERENT max depths to exercise
tiers where only a subset of crawls is still active.
"""

import copy

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from yacy_grid_crawler_spark.fixtures.gen import blacklist_lines, generate
from yacy_grid_crawler_spark.operators.blacklist import parse_lines
from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob
from yacy_grid_crawler_spark.session import local_frame

SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def _rename_domain(corpus, old: str, new: str):
    """Deep-copy a corpus onto a disjoint host domain."""
    c = copy.deepcopy(corpus)
    def sub(s):
        return s.replace(old, new) if isinstance(s, str) else s
    for d in c.docs:
        d["doc_id"] = sub(d["doc_id"])
        for s in d["spans"]:
            s["text"] = sub(s["text"])
            s["media_ref"] = sub(s["media_ref"])
    c.robots = {sub(h): r for h, r in c.robots.items()}
    c.seeds = [sub(s) for s in c.seeds]
    return c


@pytest.fixture(scope="module")
def two_corpora(spark):
    a = generate(seed=51, n_docs=150, n_hosts=6)
    b = _rename_domain(generate(seed=52, n_docs=150, n_hosts=6),
                       ".example.org", ".beta.org")
    docs = []
    robots_rows = []
    for c in (a, b):
        docs += [
            (d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
            for d in c.docs
        ]
        robots_rows += [(h, r["disallow"], r["delay_ms"]) for h, r in c.robots.items()]
    # LocalRelations, like the session fixtures in conftest.py
    docs_df = local_frame(spark, docs, SPANS_SCHEMA)
    robots_df = local_frame(
        spark, robots_rows, "host string, disallow_prefixes array<string>, crawl_delay_ms int"
    )
    rules = parse_lines(blacklist_lines(a))
    return a, b, docs_df, robots_df, rules


def _crawl(spark, store_root, docs_df, robots_df, rules, seeds_depths, concurrent,
           indexer_blacklist=None):
    job = CrawlJob(spark, store_root, docs_df, blacklist=rules,
                   robots=robots_df, n_shards=8,
                   indexer_blacklist=indexer_blacklist)
    cids = []
    for seed, depth in seeds_depths:
        cids += job.start(seed, {"crawlingDepth": depth})
    if concurrent:
        job.run_concurrent(cids)
    else:
        job.run(cids)
    return job, cids


def _table_state(job, table, cols):
    return sorted(tuple(r[c] for c in cols) for r in job.store.read(table).collect())


# the columns of every committed table that sequential and concurrent
# crawls must agree on
_EQUAL_COLS = {
    "frontier": (
        "crawl_id", "depth", "lane", "do_index", "batch_no", "batch_pos",
        "url", "url_id", "host", "fetch_slot", "not_before_ms", "lineage",
    ),
    "url_seen": ("crawl_id", "url_id", "first_depth"),
    "crawl_status": (
        "crawl_id", "user_id", "url_id", "url", "status", "comment_class",
        "depth", "start_url", "start_ssld",
    ),
    "crawl_metrics": (
        "crawl_id", "depth", "extracted", "parsed_ok", "deduped_session",
        "deduped_persistent", "rejected_filter", "rejected_blacklist",
        "rejected_robots", "accepted", "do_index",
    ),
}


def _assert_same_state(seq, con):
    for table, cols in _EQUAL_COLS.items():
        assert _table_state(seq, table, cols) == _table_state(con, table, cols), table


def test_concurrent_tiers_equal_sequential(spark, two_corpora, tmp_path_factory):
    a, b, docs_df, robots_df, rules = two_corpora
    seeds_depths = [(a.seeds[0], 2), (b.seeds[0], 3)]
    seq, seq_ids = _crawl(
        spark, str(tmp_path_factory.mktemp("seq")), docs_df, robots_df,
        rules, seeds_depths, concurrent=False,
    )
    con, con_ids = _crawl(
        spark, str(tmp_path_factory.mktemp("con")), docs_df, robots_df,
        rules, seeds_depths, concurrent=True,
    )
    assert seq_ids == con_ids  # deterministic crawl ids
    _assert_same_state(seq, con)


def test_mixed_depth_tier_equals_sequential(spark, two_corpora, tmp_path_factory):
    """A tier whose candidate frame holds seed rows of one crawl and
    expanded rows of another: crawl A runs its depth-0 tier alone,
    crawl B starts, then A (depth 1) and B (depth 0) share a tier.
    The committed state must equal sequential BFS."""
    a, b, docs_df, robots_df, rules = two_corpora
    con = CrawlJob(spark, str(tmp_path_factory.mktemp("mixed")), docs_df,
                   blacklist=rules, robots=robots_df, n_shards=8)
    (cid_a,) = con.start(a.seeds[0], {"crawlingDepth": 1})
    assert con.step_all([cid_a]) == [cid_a]
    (cid_b,) = con.start(b.seeds[0], {"crawlingDepth": 1})
    next_depth = con.store.manifest()["meta"]["next_depth"]
    assert (next_depth[cid_a], next_depth[cid_b]) == (1, 0)
    con.run_concurrent([cid_a, cid_b])
    seq, seq_ids = _crawl(
        spark, str(tmp_path_factory.mktemp("mixed_seq")), docs_df, robots_df,
        rules, [(a.seeds[0], 1), (b.seeds[0], 1)], concurrent=False,
    )
    assert seq_ids == [cid_a, cid_b]
    _assert_same_state(seq, con)


def test_step_all_read_budget(spark, two_corpora, tmp_path_factory, monkeypatch):
    """One step_all reads the frontier ONCE whatever the number of
    crawls in the tier, and reading a committed table starts no Spark
    job (the declared schema replaces parquet footer inference)."""
    from yacy_grid_crawler_spark.sources.statestore import SCHEMAS, StateStore

    a, b, docs_df, robots_df, rules = two_corpora
    job = CrawlJob(spark, str(tmp_path_factory.mktemp("budget")), docs_df,
                   blacklist=rules, robots=robots_df, n_shards=8)
    cids = job.start(a.seeds[0], {"crawlingDepth": 2})
    cids += job.start(b.seeds[0], {"crawlingDepth": 2})
    assert job.step_all(cids) == cids  # depth-0 tier: seed rows only

    reads = []
    real_read = StateStore.read

    def counting_read(self, table, version=None):
        reads.append(table)
        return real_read(self, table, version)

    monkeypatch.setattr(StateStore, "read", counting_read)
    for active in (cids[:1], cids):  # N = 1, then N = 2 expanding crawls
        reads.clear()
        job.step_all(active)
        assert reads.count("frontier") == 1, (len(active), reads)
    monkeypatch.undo()

    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    assert set(job.store.manifest()["tables"]) == set(SCHEMAS)
    for table in SCHEMAS:
        job.store.read(table)
    assert set(tracker.getJobIdsForGroup()) == before
    spark.range(1).count()  # the probe does see jobs
    assert set(tracker.getJobIdsForGroup()) != before


def test_concurrent_indexer_blacklist_equals_sequential(
    spark, two_corpora, tmp_path_factory
):
    """The indexer blacklist (second blacklist, flips do_index only —
    CrawlerListener.java:374-384) through run_wave_multi must match the
    oracle-pinned run_wave path: identical index/noindex split, and
    non-vacuous on both crawls."""
    a, b, docs_df, robots_df, rules = two_corpora
    irules = parse_lines([r".*\d[02468]\.html", "host host000.beta.org"])
    seeds_depths = [(a.seeds[0], 2), (b.seeds[0], 2)]
    seq, _ = _crawl(
        spark, str(tmp_path_factory.mktemp("iseq")), docs_df, robots_df,
        rules, seeds_depths, concurrent=False, indexer_blacklist=irules,
    )
    con, _ = _crawl(
        spark, str(tmp_path_factory.mktemp("icon")), docs_df, robots_df,
        rules, seeds_depths, concurrent=True, indexer_blacklist=irules,
    )
    cols = ("crawl_id", "depth", "do_index", "batch_no", "batch_pos", "url_id")
    seq_state = _table_state(seq, "frontier", cols)
    assert seq_state == _table_state(con, "frontier", cols)
    # the gate actually flipped rows in the concurrent run too
    flipped = (
        con.store.read("frontier").filter(~F.col("do_index")).count()
    )
    assert flipped > 0
    assert con.store.read("frontier").filter(F.col("do_index")).count() > 0


def test_concurrent_multi_seed_single_start(spark, two_corpora, tmp_path_factory):
    """One crawl-start with two '|'-separated seeds → two crawl ids
    stepped together by run_concurrent (CrawlStartService.java:110-200
    one-crawl-per-seed), distributed rank path on."""
    a, b, docs_df, robots_df, rules = two_corpora
    job = CrawlJob(
        spark, str(tmp_path_factory.mktemp("multi")), docs_df,
        blacklist=rules, robots=robots_df, n_shards=8, distributed_rank=True,
    )
    cids = job.start(a.seeds[0] + "|" + b.seeds[0], {"crawlingDepth": 2})
    assert len(cids) == 2
    job.run_concurrent(cids)
    per_crawl = {
        r["crawl_id"]: r["n"]
        for r in job.store.read("frontier").groupBy("crawl_id").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert set(per_crawl) == set(cids)
    assert all(n > 0 for n in per_crawl.values())


def test_multiwave_updates_checkpointed_filters(
    spark, two_corpora, tmp_path_factory
):
    """A multiwave tier must fold each crawl's url_seen delta into its
    checkpointed bloom at commit — a stale filter's negatives would
    bypass the exact anti-join in a later single-crawl step() and
    re-crawl already-seen URLs. Pinned: (a) after run_concurrent the
    stored bloom covers EVERY committed seen id of its crawl, (b) a
    mixed driving sequence (one concurrent tier, then single-crawl
    steps to completion) converges to the same state as checkpointed
    sequential BFS, with url_seen unique."""
    import pandas as pd

    a, b, docs_df, robots_df, rules = two_corpora
    root = str(tmp_path_factory.mktemp("mw_ckpt"))
    job = CrawlJob(spark, root, docs_df, blacklist=rules, robots=robots_df,
                   n_shards=8, checkpoint_filters=True)
    cids = job.start(a.seeds[0], {"crawlingDepth": 2})
    cids += job.start(b.seeds[0], {"crawlingDepth": 2})
    job.run_concurrent(cids)
    for cid in cids:
        seen_ids = sorted(
            r["url_id"] for r in job.store.read("url_seen")
            .filter(F.col("crawl_id") == cid).collect()
        )
        assert seen_ids
        loaded = job.store.load_seen_filter(cid)
        assert loaded is not None, f"no stored filter for {cid}"
        bloom, _meta = loaded
        hits = bloom.might_contain(pd.Series(seen_ids))
        assert hits.all(), f"stored bloom misses committed ids for {cid}"

    # mixed driving: one concurrent tier, then finish each crawl with
    # checkpointed single-crawl steps
    root2 = str(tmp_path_factory.mktemp("mw_ckpt_mixed"))
    job2 = CrawlJob(spark, root2, docs_df, blacklist=rules, robots=robots_df,
                    n_shards=8, checkpoint_filters=True)
    cids2 = job2.start(a.seeds[0], {"crawlingDepth": 2})
    cids2 += job2.start(b.seeds[0], {"crawlingDepth": 2})
    job2.step_all(cids2)  # depth-0 tier for both crawls
    for cid in cids2:
        while job2.step(cid):
            pass
    rows = job2.store.read("url_seen").select("crawl_id", "url_id").collect()
    assert len(rows) == len({(r["crawl_id"], r["url_id"]) for r in rows}), \
        "stale filter caused duplicate url_seen rows"
    ref = _crawl(spark, str(tmp_path_factory.mktemp("mw_ckpt_ref")),
                 docs_df, robots_df, rules,
                 [(a.seeds[0], 2), (b.seeds[0], 2)], concurrent=False)[0]
    assert _table_state(job2, "url_seen", ("url_id",)) == \
        _table_state(ref, "url_seen", ("url_id",))


def test_concurrent_bucketed_seen_equals_default(
    spark, two_corpora, tmp_path_factory
):
    """bucketed_seen through the MULTIWAVE path (step_all): combined
    tiers over the bucketed mirror must commit the same final state
    as the default layout."""
    a, b, docs_df, robots_df, rules = two_corpora
    seeds = [(a.seeds[0], 2), (b.seeds[0], 1)]
    states = {}
    for bucketed in (False, True):
        root = str(tmp_path_factory.mktemp(f"mw_b{int(bucketed)}"))
        job = CrawlJob(
            spark, root, docs_df, blacklist=rules, robots=robots_df,
            n_shards=8, bucketed_seen=bucketed,
        )
        cids = []
        for seed, depth in seeds:
            cids += job.start(seed, {"crawlingDepth": depth})
        job.run_concurrent(cids)
        states[bucketed] = (
            sorted(
                r["url_id"] for r in job.store.read("url_seen").collect()
            ),
            sorted(
                (r["url_id"], r["status"])
                for r in job.store.read("crawl_status").collect()
            ),
        )
    assert states[True] == states[False]


def test_profiles_dimension_is_a_local_relation(spark):
    """The broadcast profile dimension is built from driver-held rows
    as a LocalRelation (no pickled RDD behind it), empty or not."""
    from yacy_grid_crawler_spark.config import make_profile
    from yacy_grid_crawler_spark.plans.multiwave import profiles_to_df

    profile = {
        **make_profile({"crawlingDepth": 2, "collection": "user,extra"}),
        "start_url": "http://a.x/", "start_ssld": "a.x",
    }
    for profiles in ({"c1": profile}, {}):
        df = profiles_to_df(spark, profiles)
        plan = df._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation"
        rows = df.collect()
        assert [r["crawl_id"] for r in rows] == list(profiles)
    assert rows == [] and df.columns[0] == "crawl_id"


def test_tier_dedup_is_per_crawl(spark, two_corpora, tmp_path_factory):
    """Two crawls of the SAME seed with different profiles share one
    depth-0 tier (a k > 1 wave): the in-wave dedup and the seen
    anti-join are keyed per crawl, so url_seen holds the seed once per
    crawl and both frontiers hold it. A tier plan that lost crawl_id
    from its dedup keys would keep one of the two rows."""
    from datetime import datetime, timezone

    from yacy_grid_crawler_spark.functions.urlnorm import url_id

    a, _b, docs_df, robots_df, rules = two_corpora
    job = CrawlJob(spark, str(tmp_path_factory.mktemp("same_seed")), docs_df,
                   blacklist=rules, robots=robots_df, n_shards=8)
    seed = a.seeds[0].split("|")[0]
    (c1,) = job.start(seed, {"crawlingDepth": 1},
                      now=datetime(2020, 1, 1, tzinfo=timezone.utc))
    (c2,) = job.start(seed, {"crawlingDepth": 2, "collection": "user,extra"},
                      now=datetime(2020, 1, 2, tzinfo=timezone.utc))
    assert c1 != c2
    job.step_all([c1, c2])
    seed_id = url_id(job.profiles[c1]["start_url"])
    want = [(c1, seed_id), (c2, seed_id)]
    assert _table_state(job, "url_seen", ("crawl_id", "url_id")) == sorted(want)
    assert _table_state(job, "frontier", ("crawl_id", "url_id")) == sorted(want)


def test_run_concurrent_keeps_state_bounded(spark, two_corpora, tmp_path_factory):
    """run_concurrent maintains the store on run()'s cadence (every
    COMPACT_EVERY tiers and once at the end): afterwards the store holds
    at most maintain()'s keep_snapshots (2) manifests, like after run(),
    and the crawl state still equals the sequential run's."""
    a, b, docs_df, robots_df, rules = two_corpora
    seeds_depths = [(a.seeds[0], 1), (b.seeds[0], 1)]
    seq, _ = _crawl(
        spark, str(tmp_path_factory.mktemp("bounded_seq")), docs_df, robots_df,
        rules, seeds_depths, concurrent=False,
    )
    con, _ = _crawl(
        spark, str(tmp_path_factory.mktemp("bounded_con")), docs_df, robots_df,
        rules, seeds_depths, concurrent=True,
    )
    for job in (seq, con):
        assert len(job.store.versions()) <= 2, job.store.versions()
    _assert_same_state(seq, con)


def test_step_all_crash_before_finalize_resumes_exactly(
    spark, two_corpora, tmp_path_factory, monkeypatch
):
    """A driver killed between the depth-1 tier's sink writes and its
    manifest publish: a fresh CrawlJob's resume() on the same store
    ends in the state of the uninterrupted run_concurrent."""
    from test_resume import CrashBeforeFinalize, crash_at_depth_1_commit

    a, b, docs_df, robots_df, rules = two_corpora
    seeds_depths = [(a.seeds[0], 1), (b.seeds[0], 1)]
    ref, ref_ids = _crawl(
        spark, str(tmp_path_factory.mktemp("crash_ref")), docs_df, robots_df,
        rules, seeds_depths, concurrent=True,
    )
    root = str(tmp_path_factory.mktemp("crash"))
    crashed = crash_at_depth_1_commit(monkeypatch)
    with pytest.raises(CrashBeforeFinalize):
        _crawl(spark, root, docs_df, robots_df, rules, seeds_depths, concurrent=True)
    monkeypatch.undo()
    assert len(crashed) == 1
    job = CrawlJob(spark, root, docs_df, blacklist=rules, robots=robots_df, n_shards=8)
    assert list(job.profiles) == ref_ids
    assert job.store.manifest()["meta"]["next_depth"] == dict.fromkeys(ref_ids, 1)
    job.resume()
    _assert_same_state(ref, job)

"""Resume test (SURVEY.md §5.4): interrupt the wave loop between
commits, restart from the snapshot, assert identical final state —
the north-rule 'exact resume from checkpoint'."""

import os

import pytest
from pyspark.sql import functions as F

from yacy_grid_crawler_spark.fixtures.gen import blacklist_lines
from yacy_grid_crawler_spark.operators.blacklist import parse_lines
from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob


def _run(spark, corpus, docs_df, robots_df, root, interrupt_after: int | None):
    rules = parse_lines(blacklist_lines(corpus))
    job = CrawlJob(spark, root, docs_df, blacklist=rules, robots=robots_df, n_shards=8)
    cids = job.start(corpus.seeds[0], {"crawlingDepth": 2})
    if interrupt_after is None:
        job.run(cids)
    else:
        for _ in range(interrupt_after):
            job.step(cids[0])
    return job, cids[0]


def _final_state(job, cid):
    seen = frozenset(
        r["url_id"]
        for r in job.store.read("url_seen").filter(F.col("crawl_id") == cid).collect()
    )
    frontier = sorted(
        (r["depth"], r["do_index"], r["batch_no"], r["batch_pos"], r["url_id"])
        for r in job.store.read("frontier").filter(F.col("crawl_id") == cid).collect()
    )
    return seen, frontier


def test_resume_equals_uninterrupted(
    spark, corpus, docs_df, robots_df, tmp_path, reference_crawl
):
    # straight-through run: conftest's reference_crawl is `_run(...,
    # None)` of the same crawl
    job_a, cid_a = reference_crawl
    # interrupted after wave 1, resumed by a FRESH CrawlJob (profiles
    # restored from the snapshot manifest, like a new driver process)
    job_b, cid_b = _run(spark, corpus, docs_df, robots_df, str(tmp_path / "b"), 1)
    rules = parse_lines(blacklist_lines(corpus))
    job_b2 = CrawlJob(
        spark, str(tmp_path / "b"), docs_df, blacklist=rules, robots=robots_df, n_shards=8
    )
    assert cid_b in job_b2.profiles  # restored from manifest
    job_b2.resume()
    assert _final_state(job_a, cid_a) == _final_state(job_b2, cid_b)


def test_orphan_cleanup(spark, corpus, docs_df, robots_df, tmp_path):
    import os

    root = str(tmp_path / "c")
    job, cid = _run(spark, corpus, docs_df, robots_df, root, 1)
    # simulate a crash mid-commit: write an unreferenced data dir
    orphan = os.path.join(root, "frontier", "commit=999")
    spark.createDataFrame([], job.store.read("frontier").schema).write.parquet(orphan)
    assert os.path.isdir(orphan)
    job.store.rollback_orphans()
    assert not os.path.isdir(orphan)
    # committed state unaffected
    assert job.store.read("frontier").count() > 0


def test_compact_preserves_state(spark, corpus, docs_df, robots_df, tmp_path):
    """StateStore.compact folds N commit-dirs into one without
    changing any table's logical content (incl. the aggregated
    host_slots fold), and crawls resume correctly afterwards."""
    import os

    from pyspark.sql import functions as F

    from yacy_grid_crawler_spark.operators.blacklist import parse_lines
    from yacy_grid_crawler_spark.fixtures.gen import blacklist_lines
    from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob

    store_root = str(tmp_path / "store")
    job = CrawlJob(
        spark, store_root, docs_df,
        blacklist=parse_lines(blacklist_lines(corpus)), robots=robots_df,
    )
    cids = job.start(corpus.seeds[0], {"crawlingDepth": 2})
    job.run(cids)

    def snapshot(t):
        return sorted(tuple(r) for r in job.store.read(t).collect())

    before = {t: snapshot(t) for t in ("url_seen", "frontier")}
    slots_before = sorted(
        tuple(r)
        for r in job.store.read("host_slots")
        .groupBy("crawl_id", "host").agg(F.sum("n").alias("n")).collect()
    )
    n_dirs_before = len(os.listdir(os.path.join(store_root, "url_seen")))
    assert n_dirs_before > 1  # one commit-dir per wave accumulated
    job.store.compact("url_seen")
    job.store.compact(
        "host_slots",
        aggregate=lambda df: df.groupBy("crawl_id", "host").agg(
            F.sum("n").alias("n")
        ),
    )
    job.store.rollback_orphans()
    assert {t: snapshot(t) for t in ("url_seen", "frontier")} == before
    slots_after = sorted(tuple(r) for r in job.store.read("host_slots").collect())
    assert slots_after == slots_before
    # manifest now references exactly one commit for the compacted table
    assert len(job.store.manifest()["tables"]["url_seen"]) == 1


def test_expire_snapshots_reclaims_compacted_dirs(
    spark, corpus, docs_df, robots_df, tmp_path
):
    """compact + expire_snapshots + rollback_orphans reclaims the
    pre-compaction commit dirs while preserving the current state."""
    import os

    from yacy_grid_crawler_spark.operators.blacklist import parse_lines
    from yacy_grid_crawler_spark.fixtures.gen import blacklist_lines
    from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob

    store_root = str(tmp_path / "store")
    job = CrawlJob(
        spark, store_root, docs_df,
        blacklist=parse_lines(blacklist_lines(corpus)), robots=robots_df,
    )
    cids = job.start(corpus.seeds[0], {"crawlingDepth": 2})
    job.run(cids)
    before = sorted(tuple(r) for r in job.store.read("url_seen").collect())
    job.store.compact("url_seen")
    dirs_pre = set(os.listdir(os.path.join(store_root, "url_seen")))
    expired = job.store.expire_snapshots(keep_last=1)
    assert expired
    job.store.rollback_orphans()
    dirs_post = set(os.listdir(os.path.join(store_root, "url_seen")))
    assert len(dirs_post) == 1 and dirs_post < dirs_pre
    assert sorted(tuple(r) for r in job.store.read("url_seen").collect()) == before


def test_expire_snapshots_rejects_keep_last_zero(spark, tmp_path):
    import pytest

    from yacy_grid_crawler_spark.sources.statestore import StateStore

    store = StateStore(spark, str(tmp_path / "st"))
    with pytest.raises(ValueError):
        store.expire_snapshots(keep_last=0)


def _accepted(job, cid):
    return {
        r["url_id"]
        for r in job.store.read("crawl_status")
        .filter((F.col("crawl_id") == cid) & (F.col("status") == "accepted"))
        .collect()
    }


def test_restrictive_mustmatch_recrawl_unblocked(
    spark, corpus, docs_df, robots_df, tmp_path
):
    """S8 exact-mustmatch delete branch (CrawlStartService.java:167-171):
    a re-crawl with the SAME restrictive mustmatch must delete the old
    crawl's status entries, or D3 permanently blocks every URL."""
    from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob

    from datetime import datetime, timezone

    seed = corpus.seeds[0].split("|")[0]
    mm = r"http://host00[0-3]\.example\.org/.*"
    job = CrawlJob(spark, str(tmp_path / "st"), docs_df, robots=robots_df, n_shards=4)
    (cid1,) = job.start(seed, {"crawlingDepth": 1, "mustmatch": mm})
    job.run([cid1])
    first = _accepted(job, cid1)
    assert first, "restrictive crawl accepted nothing — bad test setup"

    # a later start time → a distinct crawl_id, as in the reference
    # (the id embeds the start timestamp, CrawlStartService.java:99)
    (cid2,) = job.start(
        seed,
        {"crawlingDepth": 1, "mustmatch": mm},
        now=datetime(2020, 1, 2, tzinfo=timezone.utc),
    )
    job.run([cid2])
    assert _accepted(job, cid2) == first

    # a DIFFERENT restrictive mustmatch must NOT delete those entries:
    # its URLs stay blocked by the D3 exist-check
    surviving = {
        r["crawl_id"]
        for r in job.store.read("crawl_status").select("crawl_id").distinct().collect()
    }
    assert cid2 in surviving and cid1 not in surviving


def test_wide_mustmatch_recrawl_deletes_prior_crawl_entries(
    spark, corpus, docs_df, robots_df, tmp_path
):
    """S8 '.*' branch (CrawlStartService.java:152-166): prior-crawl
    lookup by start_url plus start_url/ssld deletes unblock a re-crawl."""
    from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob

    from datetime import datetime, timezone

    seed = corpus.seeds[0].split("|")[0]
    job = CrawlJob(spark, str(tmp_path / "st"), docs_df, robots=robots_df, n_shards=4)
    (cid1,) = job.start(seed, {"crawlingDepth": 1})
    job.run([cid1])
    first = _accepted(job, cid1)
    assert first

    (cid2,) = job.start(
        seed, {"crawlingDepth": 1}, now=datetime(2020, 1, 2, tzinfo=timezone.utc)
    )
    job.run([cid2])
    assert _accepted(job, cid2) == first


def test_long_crawl_commit_dirs_stay_bounded(
    spark, corpus, docs_df, robots_df, tmp_path
):
    """Driver-loop maintenance cadence: with compact_every=N the
    commit-dir count of every log-structured table stays bounded and
    the final crawl state is unchanged vs an unmaintained run."""
    import os

    from yacy_grid_crawler_spark.fixtures.gen import blacklist_lines
    from yacy_grid_crawler_spark.operators.blacklist import parse_lines
    from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob

    rules = parse_lines(blacklist_lines(corpus))
    seed = corpus.seeds[0]
    state = {}
    for label, compact_every in (("plain", 0), ("maintained", 2)):
        root = str(tmp_path / label)
        job = CrawlJob(spark, root, docs_df, blacklist=rules, robots=robots_df, n_shards=8)
        cids = job.start(seed, {"crawlingDepth": 3})
        job.run(cids, compact_every=compact_every)
        state[label] = frozenset(
            (r["crawl_id"], r["url_id"])
            for r in job.store.read("url_seen").collect()
        )
        if label == "maintained":
            for t in ("url_seen", "crawl_status"):
                dirs = [
                    d
                    for d in os.listdir(os.path.join(root, t))
                    if d.startswith("commit=")
                ]
                assert len(dirs) <= 3, f"{t} has {len(dirs)} commit dirs"
    assert state["plain"] == state["maintained"]


def test_checkpoint_filters_survive_process_restart(
    spark, corpus, docs_df, robots_df, tmp_path
):
    """A fresh CrawlJob (new driver process) must reload the committed
    seen filter from the snapshot and converge to the same final state
    as an uninterrupted checkpointed run."""
    from yacy_grid_crawler_spark.fixtures.gen import blacklist_lines
    from yacy_grid_crawler_spark.operators.blacklist import parse_lines
    from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob

    rules = parse_lines(blacklist_lines(corpus))
    seed = corpus.seeds[0]

    root_a = str(tmp_path / "a")
    job_a = CrawlJob(spark, root_a, docs_df, blacklist=rules, robots=robots_df,
                     n_shards=8, checkpoint_filters=True)
    (cid_a,) = job_a.start(seed, {"crawlingDepth": 2})
    job_a.run([cid_a])

    root_b = str(tmp_path / "b")
    job_b = CrawlJob(spark, root_b, docs_df, blacklist=rules, robots=robots_df,
                     n_shards=8, checkpoint_filters=True)
    (cid_b,) = job_b.start(seed, {"crawlingDepth": 2})
    job_b.step(cid_b)  # one wave, then "crash"
    job_b2 = CrawlJob(spark, root_b, docs_df, blacklist=rules, robots=robots_df,
                      n_shards=8, checkpoint_filters=True)
    assert job_b2._seen_filters == {}  # nothing in memory yet
    job_b2.resume()
    # the resumed process actually loaded the snapshot filter
    assert cid_b in job_b2._seen_filters

    def seen(job, cid):
        return frozenset(
            r["url_id"]
            for r in job.store.read("url_seen")
            .filter(F.col("crawl_id") == cid).collect()
        )

    assert seen(job_a, cid_a) == seen(job_b2, cid_b)


def test_checkpoint_filters_enabled_mid_crawl_covers_prior_seen(
    spark, corpus, docs_df, robots_df, tmp_path, reference_crawl
):
    """Enabling --checkpoint-filters on a store with pre-existing
    url_seen rows (crawl started WITHOUT the flag) must bootstrap the
    bloom from the FULL committed seen table, not just the current
    wave's delta — a delta-only bloom's negatives bypass the exact
    anti-join and re-crawl already-seen URLs."""
    from yacy_grid_crawler_spark.fixtures.gen import blacklist_lines
    from yacy_grid_crawler_spark.operators.blacklist import parse_lines
    from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob

    rules = parse_lines(blacklist_lines(corpus))
    seed = corpus.seeds[0]

    # reference: uninterrupted run without checkpoint filters
    job_a, cid_a = reference_crawl

    # crawl B: two waves WITHOUT the flag, then resume WITH it
    root_b = str(tmp_path / "b")
    job_b = CrawlJob(spark, root_b, docs_df, blacklist=rules, robots=robots_df,
                     n_shards=8)
    (cid_b,) = job_b.start(seed, {"crawlingDepth": 2})
    job_b.step(cid_b)
    job_b.step(cid_b)
    prior_seen = frozenset(
        r["url_id"] for r in job_b.store.read("url_seen")
        .filter(F.col("crawl_id") == cid_b).collect()
    )
    assert prior_seen, "fixture must produce seen rows before the switch"
    job_b2 = CrawlJob(spark, root_b, docs_df, blacklist=rules, robots=robots_df,
                      n_shards=8, checkpoint_filters=True)
    job_b2.resume()

    # the bootstrapped filter must cover EVERY pre-switch seen id
    import pandas as pd

    bloom = job_b2._seen_filters[cid_b][0]
    hits = bloom.might_contain(pd.Series(sorted(prior_seen)))
    assert hits.all(), f"bootstrapped bloom misses {(~hits).sum()} prior ids"

    def seen(job, cid):
        return frozenset(
            r["url_id"] for r in job.store.read("url_seen")
            .filter(F.col("crawl_id") == cid).collect()
        )

    # no re-crawled duplicates: seen table equals the reference run's,
    # and is unique per url_id
    rows = job_b2.store.read("url_seen").filter(
        F.col("crawl_id") == cid_b).select("url_id").collect()
    assert len(rows) == len({r["url_id"] for r in rows})
    assert seen(job_a, cid_a) == seen(job_b2, cid_b)


def test_snapshot_diff_is_o_delta_changelog(spark, corpus, docs_df, robots_df, tmp_path):
    """snapshot_diff between consecutive versions returns exactly the
    rows that wave appended (url_seen is append-only), an empty diff
    for identical versions, and removed+added across a compaction —
    the Iceberg incremental-scan contract."""
    job, cid = _run(spark, corpus, docs_df, robots_df,
                    str(tmp_path / "sd"), interrupt_after=None)
    store = job.store
    vs = store.versions()
    assert len(vs) >= 2  # older manifests auto-expired (keep_last=2)

    full = {r["url_id"] for r in store.read("url_seen").collect()}
    # union of per-version diffs from v0 == the final table
    acc = set()
    prev = 0
    for v in vs:
        d = store.snapshot_diff("url_seen", prev, v).collect()
        assert all(r["change"] == "added" for r in d)  # append-only table
        acc |= {r["url_id"] for r in d}
        prev = v
    assert acc == full

    # identical versions → empty diff
    assert store.snapshot_diff("url_seen", vs[-1], vs[-1]).count() == 0

    # across a compaction: physical rewrite → removed(old) + added(new),
    # logically the same row set
    v_before = store.current_version()
    store.compact("url_seen")
    d = store.snapshot_diff("url_seen", v_before).collect()
    added = {r["url_id"] for r in d if r["change"] == "added"}
    removed = {r["url_id"] for r in d if r["change"] == "removed"}
    assert added == removed == full


def test_bucketed_seen_resume_rebuilds_mirror(
    spark, corpus, docs_df, robots_df, tmp_path, reference_crawl
):
    """A fresh driver resuming a bucketed_seen store has lost the
    session catalog (and the mirror may trail the snapshot): the
    version-watermarked rebuild must bring it current and the resumed
    crawl must converge to the same final state as a straight run."""
    rules = parse_lines(blacklist_lines(corpus))
    # reference: uninterrupted default-layout run
    ref_state = _final_state(*reference_crawl)

    root = str(tmp_path / "b")
    job = CrawlJob(
        spark, root, docs_df, blacklist=rules, robots=robots_df,
        n_shards=8, bucketed_seen=True,
    )
    cids = job.start(corpus.seeds[0], {"crawlingDepth": 2})
    job.step(cids[0])  # one wave, then "crash"
    # simulate the fresh driver: catalog entries gone, new CrawlJob
    for t in job._mirror_tables.values():
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    job2 = CrawlJob(
        spark, root, docs_df, blacklist=rules, robots=robots_df,
        n_shards=8, bucketed_seen=True,
    )
    job2.resume()
    assert _final_state(job2, cids[0]) == ref_state


def test_register_views_sql_surface(spark, tmp_path):
    """store.register_views() exposes every state table to spark.sql —
    the Spark-idiomatic analog of the reference's ES query surface."""
    from yacy_grid_crawler_spark.sources.statestore import (
        SCHEMAS,
        StateStore,
    )

    store = StateStore(spark, str(tmp_path / "viewstore"))
    store.commit(appends={
        "crawl_status": spark.createDataFrame(
            [], SCHEMAS["crawl_status"]
        ),
    })
    names = store.register_views(prefix="vv_")
    assert set(names) == {f"vv_{t}" for t in SCHEMAS}
    assert spark.sql("SELECT count(*) AS n FROM vv_crawl_status").collect()[0]["n"] == 0
    assert spark.sql("SELECT count(*) AS n FROM vv_frontier").collect()[0]["n"] == 0


def test_append_rejects_schema_drift(spark, tmp_path):
    """Reads apply SCHEMAS instead of inferring it from the files, so
    a frame that drifts from SCHEMAS must fail at its own append (no
    data dir written), naming the table and the column."""
    from pyspark.sql import types as T

    from yacy_grid_crawler_spark.sources.statestore import SCHEMAS, StateStore

    store = StateStore(spark, str(tmp_path / "st"))
    # host_slots.n is declared bigint; an int column must be refused
    drifted = spark.createDataFrame(
        [("c1", "h1", 3)],
        T.StructType([
            T.StructField("crawl_id", T.StringType()),
            T.StructField("host", T.StringType()),
            T.StructField("n", T.IntegerType()),
        ]),
    )
    pc = store.begin()
    with pytest.raises(ValueError, match=r"'host_slots'.*'n'.*int.*bigint"):
        pc.append("host_slots", drifted)
    with pytest.raises(ValueError, match=r"'host_slots'.*'n'"):
        pc.replace("host_slots", drifted)
    with pytest.raises(ValueError, match=r"'url_seen'.*'seen_at_ms'"):
        pc.append(
            "url_seen",
            spark.createDataFrame([], SCHEMAS["url_seen"]).drop("seen_at_ms"),
        )
    assert not os.path.exists(os.path.join(store.root, "host_slots"))
    # a conforming frame still commits and reads back
    pc.append(
        "host_slots", spark.createDataFrame([("c1", "h1", 3)], SCHEMAS["host_slots"])
    )
    pc.finalize()
    assert [tuple(r) for r in store.read("host_slots").collect()] == [("c1", "h1", 3)]


def test_fresh_store_start_writes_no_status_commit(
    spark, corpus, docs_df, robots_df, tmp_path
):
    """S8 has nothing to delete on a store without crawl_status
    commits: start() then commits crawl_starts only, with no empty
    crawl_status commit dir. The seed split and the crawl_starts rows
    stay on the driver, so the commit's write is start()'s one Spark
    job."""
    root = str(tmp_path / "st")
    job = CrawlJob(spark, root, docs_df, robots=robots_df, n_shards=4)
    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    cids = job.start(corpus.seeds[0], {"crawlingDepth": 1})
    assert len(set(tracker.getJobIdsForGroup()) - before) == 1
    assert cids
    tables = job.store.manifest()["tables"]
    assert "crawl_status" not in tables
    assert tables["crawl_starts"] == [1]
    assert not os.path.exists(os.path.join(root, "crawl_status"))
    assert job.store.read("crawl_status").count() == 0


def _slots(spark, host):
    from yacy_grid_crawler_spark.sources.statestore import SCHEMAS

    return spark.createDataFrame([("c1", host, 1)], SCHEMAS["host_slots"])


def test_retry_after_crash_mid_commit(spark, tmp_path):
    """A commit that died after a sink write and before finalize()
    leaves its data behind; the retry stages the same version and
    appends the same table beside it, and reads see only the retry."""
    from yacy_grid_crawler_spark.sources.statestore import StateStore

    store = StateStore(spark, str(tmp_path / "st"))
    crashed = store.begin()
    crashed.append("host_slots", _slots(spark, "crashed"))  # no finalize
    retry = store.begin()
    assert retry.version == crashed.version
    retry.append("host_slots", _slots(spark, "retry"))
    retry.finalize()
    assert [r["host"] for r in store.read("host_slots").collect()] == ["retry"]
    commit_dir = os.path.join(store.root, "host_slots", f"commit={retry.version}")
    assert len(os.listdir(commit_dir)) == 2
    store.rollback_orphans()  # reclaims the crashed attempt only
    assert os.listdir(commit_dir) == [retry.attempt]
    assert [r["host"] for r in store.read("host_slots").collect()] == ["retry"]


def test_second_writer_of_a_version_conflicts(spark, tmp_path):
    """Two commits staged from the same base: the first finalize()
    publishes, the second raises instead of replacing the first one's
    snapshot, and the first writer's rows and seen filter still read
    back although the second wrote a filter for the same crawl."""
    import pandas as pd

    from yacy_grid_crawler_spark.functions.bloom import UrlBloom, to_bytes
    from yacy_grid_crawler_spark.sources.statestore import (
        SCHEMAS,
        CommitConflict,
        StateStore,
    )

    def bloom_of(url_id):
        b = UrlBloom(1024)
        b.add_many(pd.Series([url_id]))
        return b

    store = StateStore(spark, str(tmp_path / "st"))
    first, second = store.begin(), store.begin()
    first.append("host_slots", _slots(spark, "first"))
    ent1 = store.write_seen_filter("c1", bloom_of("a" * 32), 1, 1024, first)
    second.append(
        "url_seen", spark.createDataFrame([("c1", "u2", 0, 0)], SCHEMAS["url_seen"])
    )
    ent2 = store.write_seen_filter("c1", bloom_of("b" * 32), 1, 1024, second)
    first.finalize(meta={"seen_filters": {"c1": ent1}})
    with pytest.raises(CommitConflict):
        second.finalize(meta={"seen_filters": {"c1": ent2}})
    assert store.versions() == [first.version]
    assert [r["host"] for r in store.read("host_slots").collect()] == ["first"]
    assert store.read("url_seen").count() == 0
    bloom, entry = store.load_seen_filter("c1")
    assert entry == ent1
    assert to_bytes(bloom) == to_bytes(bloom_of("a" * 32))
    assert os.listdir(os.path.join(store.root, "_snapshots")) == ["v000001.json"]


class CrashBeforeFinalize(RuntimeError):
    """Raised by the patched finalize: the commit's sink writes landed,
    its manifest was never published."""


def crash_at_depth_1_commit(monkeypatch) -> list[int]:
    """Make `PendingCommit.finalize` raise once, at the commit of the
    depth-1 wave (or tier): after all of its sink writes, crawl_status
    first, and before its manifest. Returns the list that records the
    version that crashed."""
    from yacy_grid_crawler_spark.sources.statestore import PendingCommit

    real = PendingCommit.finalize
    crashed: list[int] = []

    def finalize(self, meta=None):
        wave = self.version in self.tables.get("crawl_status", [])
        next_depths = (meta or {}).get("next_depth", {}).values()
        if not crashed and wave and 2 in next_depths:
            crashed.append(self.version)
            raise CrashBeforeFinalize(f"crashed before publishing v{self.version}")
        return real(self, meta)

    monkeypatch.setattr(PendingCommit, "finalize", finalize)
    return crashed


def _crawl_state(job, cid):
    """Seen set and frontier order (`_final_state`) plus the crawl's
    status and metrics rows."""
    from collections import Counter

    def rows(table):
        return Counter(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in job.store.read(table).filter(F.col("crawl_id") == cid).collect()
        )

    return (*_final_state(job, cid), rows("crawl_status"), rows("crawl_metrics"))


def test_crash_before_finalize_resumes_exactly(
    spark, corpus, docs_df, robots_df, tmp_path, reference_crawl, monkeypatch
):
    """A driver killed between the depth-1 wave's sink writes and its
    manifest publish: a fresh CrawlJob's resume() on the same store
    ends in the uninterrupted run's state (conftest's reference_crawl
    is `_run(..., None)` of the same crawl)."""
    root = str(tmp_path / "crash")
    crashed = crash_at_depth_1_commit(monkeypatch)
    with pytest.raises(CrashBeforeFinalize):
        _run(spark, corpus, docs_df, robots_df, root, None)
    monkeypatch.undo()
    assert len(crashed) == 1
    rules = parse_lines(blacklist_lines(corpus))
    job = CrawlJob(spark, root, docs_df, blacklist=rules, robots=robots_df, n_shards=8)
    (cid,) = job.profiles
    # the crashed wave is invisible: the store still asks for depth 1
    assert job.store.manifest()["meta"]["next_depth"] == {cid: 1}
    assert job.store.current_version() == crashed[0] - 1
    job.resume()
    job_a, cid_a = reference_crawl
    assert cid == cid_a
    assert _crawl_state(job_a, cid_a) == _crawl_state(job, cid)

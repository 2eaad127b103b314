"""End-to-end equality: the Spark engine vs the pure-Python executable
spec (SURVEY.md §5.1) on the seeded spans corpus.

Asserts the four equality surfaces from BASELINE.json north_star:
  (a) URL-seen set equality (exact md5-id set per crawl)
  (b) crawl-order equality under the canonical total order
  (c) status-table equality (url_id → status, comment class)
  (d) metrics equality per wave
"""

import re

import pytest
from pyspark.sql import functions as F

from yacy_grid_crawler_spark.config import build_crawl_start, make_profile
from yacy_grid_crawler_spark.fixtures.gen import blacklist_lines
from yacy_grid_crawler_spark.operators.blacklist import parse_lines
from yacy_grid_crawler_spark.oracle.spec import crawl as oracle_crawl
from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob


@pytest.fixture(scope="module")
def crawl_result(reference_crawl, corpus):
    """One 2-deep crawl in both the engine (conftest's reference_crawl)
    and the oracle."""
    rules = parse_lines(blacklist_lines(corpus))
    seed = corpus.seeds[0]
    overrides = {"crawlingDepth": 2}
    job, cid = reference_crawl

    profile = build_crawl_start(make_profile(overrides), seed)
    profile["id"] = cid
    docs_map = {d["doc_id"]: d["spans"] for d in corpus.docs}
    blk = [
        {"rule_kind": r.rule_kind, "host": r.host, "pattern": r.pattern}
        for r in rules
    ]
    robots = {h: {"disallow": r["disallow"], "delay_ms": r["delay_ms"]} for h, r in corpus.robots.items()}
    oracle = oracle_crawl(docs_map, [seed], profile, blacklist=blk, robots=robots)
    return job, cid, oracle


def test_seen_set_equality(crawl_result):
    job, cid, oracle = crawl_result
    engine_seen = {
        r["url_id"]
        for r in job.store.read("url_seen").filter(F.col("crawl_id") == cid).collect()
    }
    assert engine_seen == oracle.seen


def test_crawl_order_equality(crawl_result):
    job, cid, oracle = crawl_result
    cols = ["depth", "lane", "do_index", "batch_no", "batch_pos", "url", "url_id",
            "fetch_slot", "not_before_ms"]
    engine_rows = [
        tuple(r[c] for c in cols)
        for r in (
            job.store.read("frontier")
            .filter(F.col("crawl_id") == cid)
            .orderBy("depth", (1 - F.col("do_index").cast("int")), "batch_no", "batch_pos")
            .collect()
        )
    ]
    oracle_rows = [
        (
            r["depth"], r["lane"], r["do_index"], r["batch_no"], r["batch_pos"],
            r["url"], r["url_id"], r["fetch_slot"], r["not_before_ms"],
        )
        for r in sorted(
            oracle.frontier,
            key=lambda r: (r["depth"], not r["do_index"], r["batch_no"], r["batch_pos"]),
        )
    ]
    assert len(engine_rows) == len(oracle_rows)
    for i, (e, o) in enumerate(zip(engine_rows, oracle_rows)):
        assert e == o, f"row {i}: engine={e} oracle={o}"


def test_status_equality(crawl_result):
    job, cid, oracle = crawl_result
    engine_status = {
        r["url_id"]: (r["status"], r["comment_class"])
        for r in job.store.read("crawl_status").filter(F.col("crawl_id") == cid).collect()
    }
    assert engine_status == oracle.status


def test_bloom_path_wave_equals_exact_path(
    spark, corpus, docs_df, robots_df, tmp_path_factory, reference_crawl
):
    """use_bloom=True must be a pure optimization: identical frontier,
    seen set, and metrics as the exact anti-join path (a bloom FP can
    shrink the pre-filter but never change the decision). The exact
    path is conftest's reference_crawl, the same crawl with default
    settings."""
    rules = parse_lines(blacklist_lines(corpus))
    store_root = str(tmp_path_factory.mktemp("store_bloom_True"))
    bloom_job = CrawlJob(
        spark, store_root, docs_df, blacklist=rules, robots=robots_df,
        n_shards=8, use_bloom=True,
    )
    bloom_job.run(bloom_job.start(corpus.seeds[0], {"crawlingDepth": 2}))
    outs = {}
    for use_bloom, job in ((False, reference_crawl[0]), (True, bloom_job)):
        frontier = sorted(
            tuple(r[c] for c in ("depth", "batch_no", "batch_pos", "url_id"))
            for r in job.store.read("frontier").collect()
        )
        seen = {r["url_id"] for r in job.store.read("url_seen").collect()}
        metrics = sorted(
            tuple(r[c] for c in ("depth", "extracted", "accepted", "deduped_session"))
            for r in job.store.read("crawl_metrics").collect()
        )
        outs[use_bloom] = (frontier, seen, metrics)
    assert outs[False] == outs[True]


def test_metrics_equality(crawl_result):
    job, cid, oracle = crawl_result
    keys = [
        "depth", "extracted", "parsed_ok", "deduped_session",
        "deduped_persistent", "rejected_filter", "rejected_blacklist",
        "rejected_robots", "accepted", "do_index",
    ]
    engine = {
        r["depth"]: tuple(r[k] for k in keys)
        for r in job.store.read("crawl_metrics").filter(F.col("crawl_id") == cid).collect()
    }
    oracle_m = {m["depth"]: tuple(m[k] for k in keys) for m in oracle.metrics}
    assert engine == oracle_m


def test_cross_wave_politeness_budget(spark, tmp_path):
    """Per-host fetch slots CONTINUE across waves (the cross-wave
    politeness budget): a host crawled at depth d resumes its slot
    sequence at depth d+1 instead of restarting at 0."""
    from pyspark.sql import types as T

    from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(T.StructType([
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]))),
    ])

    def links(urls):
        return [("outbound", u, None, i) for i, u in enumerate(urls)]

    H = "http://one.example.com"
    docs = spark.createDataFrame(
        [
            (f"{H}/seed.html", links([f"{H}/a.html", f"{H}/b.html"])),
            (f"{H}/a.html", links([f"{H}/c.html", f"{H}/d.html"])),
            (f"{H}/b.html", links([f"{H}/e.html"])),
        ],
        schema,
    )
    robots = spark.createDataFrame(
        [("one.example.com", [], 100)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms int",
    )
    job = CrawlJob(spark, str(tmp_path / "store"), docs, robots=robots, n_shards=4)
    cids = job.start(f"{H}/seed.html", {"crawlingDepth": 3})
    job.run(cids)
    rows = sorted(
        job.store.read("frontier")
        .select("depth", "fetch_slot", "not_before_ms")
        .collect(),
        key=lambda r: (r.depth, r.fetch_slot),
    )
    slots = [r.fetch_slot for r in rows]
    # one host → slots are one strictly increasing global sequence
    assert slots == list(range(len(rows)))
    assert [r.not_before_ms for r in rows] == [s * 100 for s in slots]
    # and slots do not reset at the depth boundary
    by_depth = {}
    for r in rows:
        by_depth.setdefault(r.depth, []).append(r.fetch_slot)
    depths = sorted(by_depth)
    for d_prev, d_next in zip(depths, depths[1:]):
        assert min(by_depth[d_next]) == max(by_depth[d_prev]) + 1


def test_wave_invariant_under_repartition_and_permutation(
    spark, corpus, docs_df, robots_df, tmp_path
):
    """SURVEY.md §5.2: the wave's outputs (seen-set, canonically-
    ordered frontier) are invariant under arbitrary permutation /
    repartitioning of the candidate input."""
    from pyspark.sql import functions as F

    from yacy_grid_crawler_spark.config import build_crawl_start, make_profile
    from yacy_grid_crawler_spark.operators.blacklist import parse_lines
    from yacy_grid_crawler_spark.fixtures.gen import blacklist_lines
    from yacy_grid_crawler_spark.plans.wave import run_wave

    profile = build_crawl_start(make_profile({}), corpus.seeds[0].split("|")[0])
    candidates = docs_df.limit(120).select(
        F.lit(0).alias("parent_ini"),
        F.monotonically_increasing_id().alias("parent_batch_no"),
        F.lit(0).alias("parent_batch_pos"),
        F.explode("spans").alias("span"),
    ).select(
        "parent_ini", "parent_batch_no", "parent_batch_pos",
        F.col("span.offset").alias("span_offset"),
        F.col("span.text").alias("url_raw"),
    ).filter(F.col("url_raw").isNotNull()).persist()
    candidates.count()
    scrambled = (
        candidates.orderBy(F.md5(F.concat_ws("|", "url_raw", "parent_batch_no")))
        .repartition(13)
    )
    empty = spark.createDataFrame([], "crawl_id string, url_id string, first_depth int")
    status = spark.createDataFrame([], "url_id string")
    rules = parse_lines(blacklist_lines(corpus))

    def outputs(cand, dist):
        res = run_wave(
            cand, profile, seen=empty, status_ids=status, depth=1,
            blacklist=rules, robots=robots_df, n_shards=8,
            distributed_rank=dist,
        )
        frontier = sorted(
            tuple(r) for r in res.frontier.select(
                "url_id", "do_index", "batch_no", "batch_pos", "fetch_slot"
            ).collect()
        )
        seen = {r["url_id"] for r in res.seen.collect()}
        res.unpersist()
        return frontier, seen

    f0, s0 = outputs(candidates, False)
    for cand, dist in ((scrambled, False), (candidates, True), (scrambled, True)):
        f1, s1 = outputs(cand, dist)
        assert s1 == s0
        assert f1 == f0
    candidates.unpersist()


def test_checkpointed_seen_filter_equals_exact(
    spark, corpus, docs_df, robots_df, tmp_path_factory, reference_crawl
):
    """North star: the seen bloom is built at wave COMMIT, persisted in
    the snapshot, and PROBED next wave — never rebuilt from the seen
    table mid-crawl. Results must equal the exact anti-join path
    (conftest's reference_crawl, the same crawl with default settings)."""
    from yacy_grid_crawler_spark.fixtures.gen import blacklist_lines
    from yacy_grid_crawler_spark.operators.blacklist import parse_lines
    from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob

    rules = parse_lines(blacklist_lines(corpus))
    seed = corpus.seeds[0]

    def state(job):
        return (
            frozenset(
                (r["crawl_id"], r["url_id"])
                for r in job.store.read("url_seen").collect()
            ),
            sorted(
                (r["depth"], r["do_index"], r["batch_no"], r["batch_pos"], r["url_id"])
                for r in job.store.read("frontier").collect()
            ),
        )

    outs = {False: state(reference_crawl[0])}
    root = str(tmp_path_factory.mktemp("store_ckpt_True"))
    job = CrawlJob(
        spark, root, docs_df, blacklist=rules, robots=robots_df,
        n_shards=8, checkpoint_filters=True,
    )
    # probing a checkpointed filter must never trigger an
    # O(seen) per-wave rebuild inside the wave
    import yacy_grid_crawler_spark.functions.bloom as bloom_mod

    def _no_rebuild(*a, **k):
        raise AssertionError(
            "per-wave bloom rebuild reached with checkpoint_filters=True"
        )

    # bloom_prefilter imports build_from_spark at call time,
    # so patching the module attribute intercepts any rebuild
    orig_build = bloom_mod.build_from_spark
    bloom_mod.build_from_spark = _no_rebuild
    try:
        cids = job.start(seed, {"crawlingDepth": 2})
        job.run(cids)
    finally:
        bloom_mod.build_from_spark = orig_build
    outs[True] = state(job)
    # filter persisted in the snapshot with a sane fill count
    meta = job.store.manifest()["meta"]["seen_filters"]
    assert cids[0] in meta and meta[cids[0]]["n"] > 0
    loaded = job.store.load_seen_filter(cids[0])
    assert loaded is not None
    bloom, ent = loaded
    import pandas as pd

    seen_ids = pd.Series(
        [r["url_id"] for r in job.store.read("url_seen").collect()]
    )
    assert bloom.might_contain(seen_ids).all()  # no false negatives
    assert outs[False] == outs[True]


def test_clocked_crawl_equals_oracle_at_nonzero_wave_starts(
    spark, corpus, docs_df, robots_df, tmp_path_factory
):
    """With an injected wave-start clock, politeness not_before_ms and
    lineage docnames carry REAL (non-epoch) wave timestamps, and the
    engine still matches the oracle wave-for-wave (the oracle mirrors
    the clock via wave_start_fn)."""
    from yacy_grid_crawler_spark.fixtures.gen import blacklist_lines
    from yacy_grid_crawler_spark.operators.blacklist import parse_lines

    BASE = 1_600_000_000_000  # 2020-09-13T12:26:40Z
    STEP = 60_000
    calls = iter(range(100))
    rules = parse_lines(blacklist_lines(corpus))
    seed = corpus.seeds[0]
    store_root = str(tmp_path_factory.mktemp("store_clocked"))
    job = CrawlJob(
        spark, store_root, docs_df, blacklist=rules, robots=robots_df,
        n_shards=8, clock=lambda: BASE + STEP * next(calls),
    )
    (cid,) = job.start(seed, {"crawlingDepth": 2})
    job.run(cids := [cid])

    profile = build_crawl_start(make_profile({"crawlingDepth": 2}), seed)
    profile["id"] = cid
    docs_map = {d["doc_id"]: d["spans"] for d in corpus.docs}
    blk = [
        {"rule_kind": r.rule_kind, "host": r.host, "pattern": r.pattern}
        for r in rules
    ]
    robots = {
        h: {"disallow": r["disallow"], "delay_ms": r["delay_ms"]}
        for h, r in corpus.robots.items()
    }
    oracle = oracle_crawl(
        docs_map, [seed], profile, blacklist=blk, robots=robots,
        wave_start_fn=lambda depth: BASE + STEP * depth,
    )

    rows = (
        job.store.read("frontier").filter(F.col("crawl_id") == cid)
        .orderBy("depth", (1 - F.col("do_index").cast("int")),
                 "batch_no", "batch_pos")
        .collect()
    )
    oracle_rows = sorted(
        oracle.frontier,
        key=lambda r: (r["depth"], not r["do_index"], r["batch_no"], r["batch_pos"]),
    )
    assert len(rows) == len(oracle_rows) > 0
    for e, o in zip(rows, oracle_rows):
        assert (e["url_id"], e["not_before_ms"]) == (o["url_id"], o["not_before_ms"])
        assert e["not_before_ms"] >= BASE  # non-degenerate clock reached the sink
        # lineage carries the wave-start stamp, not the epoch
        assert "-t1970" not in e["lineage"], e["lineage"]
        assert e["lineage"].startswith(f"d{e['depth']:02d}-t20"), e["lineage"]

    # wave-start provenance persisted in the snapshot meta
    starts = job.store.manifest()["meta"].get("wave_starts", {})
    assert starts.get(cid, 0) >= BASE


def _stepped_crawl(spark, corpus, docs_df, robots_df, root, **kwargs):
    """Step crawl 0 to depth 2 to its end; the final state and the
    number of steps that asked for another wave."""
    rules = parse_lines(blacklist_lines(corpus))
    job = CrawlJob(
        spark, root, docs_df, blacklist=rules, robots=robots_df,
        n_shards=8, **kwargs,
    )
    (cid,) = job.start(corpus.seeds[0], {"crawlingDepth": 2})
    waves = 0
    while job.step(cid):
        waves += 1
        assert waves < 200, "capped crawl failed to converge"
    return {
        "waves": waves,
        "seen": frozenset(
            r["url_id"] for r in job.store.read("url_seen")
            .filter(F.col("crawl_id") == cid).collect()
        ),
        "status": {
            r["url_id"]: (r["status"], r["comment_class"])
            for r in job.store.read("crawl_status")
            .filter(F.col("crawl_id") == cid).collect()
        },
        "order": [
            tuple(r[c] for c in (
                "depth", "do_index", "batch_no", "batch_pos", "url",
                "url_id", "fetch_slot", "not_before_ms",
            ))
            for r in job.store.read("frontier")
            .filter(F.col("crawl_id") == cid)
            .orderBy("depth", (1 - F.col("do_index").cast("int")),
                     "batch_no", "batch_pos")
            .collect()
        ],
        # cursor must be cleared once the crawl drains
        "cursor": job.store.manifest()["meta"]
        .get("wave_cursors", {}).get(cid),
    }


@pytest.fixture(scope="module")
def uncapped_crawl(spark, corpus, docs_df, robots_df, tmp_path_factory):
    """The uncapped run both cap sizes compare against."""
    root = str(tmp_path_factory.mktemp("store_cap_uncapped"))
    return _stepped_crawl(spark, corpus, docs_df, robots_df, root)


@pytest.mark.parametrize("cap", [5, 16])
def test_wave_size_cap_equals_uncapped(
    spark, corpus, docs_df, robots_df, tmp_path_factory, uncapped_crawl, cap
):
    """Backpressure (reference: 100k queued-message throttle,
    conf/config.properties:5): a capped crawl takes more waves but
    converges to the IDENTICAL final seen set, status table, and
    canonical frontier order as the uncapped run — batch numbering,
    fetch slots, and within-depth dedup all carry across sub-waves."""
    root = str(tmp_path_factory.mktemp(f"store_cap_{cap}_capped"))
    outs = {
        "uncapped": uncapped_crawl,
        "capped": _stepped_crawl(
            spark, corpus, docs_df, robots_df, root, max_wave_urls=cap
        ),
    }
    assert outs["capped"]["waves"] > outs["uncapped"]["waves"]
    assert outs["capped"]["cursor"] is None
    assert outs["capped"]["seen"] == outs["uncapped"]["seen"]
    assert outs["capped"]["status"] == outs["uncapped"]["status"]
    assert outs["capped"]["order"] == outs["uncapped"]["order"]


def test_indexer_blacklist_gates_index_lane(
    spark, corpus, docs_df, robots_df, tmp_path_factory
):
    """The reference's SECOND blacklist (grid.indexer.blacklist):
    matching URLs ride the noindex lane but are still crawled and
    expanded (CrawlerListener.java:374-384). Engine == spec on the
    full surface, and BOTH rule kinds (regex + host) are non-vacuous."""
    rules = parse_lines(blacklist_lines(corpus))
    seed = corpus.seeds[0]
    seed_host = re.match(r"^[a-z]+://([^/]+)/", seed.split("|")[0]).group(1)
    irules = parse_lines(
        [
            "# indexer blacklist (reference file format)",
            r".*\d[02468]\.html  # even pages stay out of the index",
            f"host {seed_host}  # whole seed host rides noindex",
        ]
    )
    overrides = {"crawlingDepth": 2}
    job = CrawlJob(
        spark,
        str(tmp_path_factory.mktemp("store")),
        docs_df,
        blacklist=rules,
        robots=robots_df,
        n_shards=8,
        indexer_blacklist=irules,
    )
    cids = job.start(seed, overrides)
    job.run(cids)
    cid = cids[0]

    profile = build_crawl_start(make_profile(overrides), seed)
    profile["id"] = cid
    docs_map = {d["doc_id"]: d["spans"] for d in corpus.docs}
    as_dicts = lambda rs: [
        {"rule_kind": r.rule_kind, "host": r.host, "pattern": r.pattern}
        for r in rs
    ]
    robots = {
        h: {"disallow": r["disallow"], "delay_ms": r["delay_ms"]}
        for h, r in corpus.robots.items()
    }
    oracle = oracle_crawl(
        docs_map,
        [seed],
        profile,
        blacklist=as_dicts(rules),
        robots=robots,
        indexer_blacklist=as_dicts(irules),
    )

    frontier = (
        job.store.read("frontier")
        .filter(F.col("crawl_id") == cid)
        .orderBy(
            "depth", (1 - F.col("do_index").cast("int")), "batch_no", "batch_pos"
        )
        .collect()
    )
    engine_rows = [
        (r["depth"], r["do_index"], r["batch_no"], r["batch_pos"], r["url_id"])
        for r in frontier
    ]
    oracle_rows = [
        (r["depth"], r["do_index"], r["batch_no"], r["batch_pos"], r["url_id"])
        for r in sorted(
            oracle.frontier,
            key=lambda r: (
                r["depth"], not r["do_index"], r["batch_no"], r["batch_pos"],
            ),
        )
    ]
    assert engine_rows == oracle_rows
    # non-vacuous, each rule kind separately: a host-rule-only flip
    # (odd page on the seed host) and a regex-only flip (even page on
    # some other host)
    flipped = [r for r in frontier if not r["do_index"]]
    is_even = lambda u: u.rstrip(".html")[-1] in "02468"
    on_seed_host = lambda u: f"//{seed_host}/" in u
    assert any(on_seed_host(r["url"]) and not is_even(r["url"]) for r in flipped)
    assert any(is_even(r["url"]) and not on_seed_host(r["url"]) for r in flipped)
    # every flip is explained by one of the two rules
    assert all(is_even(r["url"]) or on_seed_host(r["url"]) for r in flipped)
    # the index lane still has members (the gate is a split, not a drop)
    assert any(r["do_index"] for r in frontier)


def test_bucketed_seen_equals_default(
    spark, corpus, docs_df, robots_df, tmp_path_factory
):
    """bucketed_seen=True must be a pure physical-layout change: the
    final url_seen, canonically-ordered frontier, and status tables
    are identical to the default path; the mirror survives a second
    crawl on the same store (S8 start-deletes force the rebuild
    branch) and per-wave deltas keep the marker current."""
    rules = parse_lines(blacklist_lines(corpus))
    seed = corpus.seeds[0]
    seed2 = corpus.seeds[1] if len(corpus.seeds) > 1 else corpus.seeds[0]
    overrides = {"crawlingDepth": 2}

    def final_state(job, cids):
        st = job.store
        seen = sorted(
            (r["crawl_id"], r["url_id"])
            for r in st.read("url_seen").collect()
        )
        fr = [
            (r["crawl_id"], r["url_id"])
            for r in st.read("frontier").orderBy(
                "crawl_id", "depth", "lane",
                F.col("do_index").desc(), "batch_no", "batch_pos",
            ).collect()
        ]
        status = sorted(
            (r["crawl_id"], r["url_id"], r["status"], r["comment_class"])
            for r in st.read("crawl_status").collect()
        )
        return seen, fr, status

    states = {}
    for bucketed in (False, True):
        root = str(tmp_path_factory.mktemp(f"store_b{int(bucketed)}"))
        job = CrawlJob(
            spark, root, docs_df, blacklist=rules, robots=robots_df,
            n_shards=8, bucketed_seen=bucketed,
        )
        cids = job.start(seed, overrides)
        job.run(cids)
        # second crawl on the SAME store: exercises S8 deletes (store
        # moves without a mirror append → rebuild) + cross-crawl D3
        cids2 = job.start(seed2, overrides)
        job.run(cids2)
        # strip crawl ids (they embed distinct start timestamps/hash)
        seen, fr, status = final_state(job, cids + cids2)
        key = {c: i for i, c in enumerate(dict.fromkeys(cids + cids2))}
        states[bucketed] = (
            sorted((key[c], u) for c, u in seen),
            [(key[c], u) for c, u in fr],
            sorted((key[c], u, s, cc) for c, u, s, cc in status),
        )
        if bucketed:
            # marker must track the store head (delta path exercised)
            assert job._mirror_marker() is not None
    assert states[True] == states[False]


def test_bucketed_seen_auto_threshold(
    spark, corpus, docs_df, robots_df, tmp_path_factory, reference_crawl
):
    """Default bucketed_seen="auto" flips the mirror on exactly when
    url_seen's on-disk bytes cross the threshold, and the decision is
    monotone (stays on once enabled). Semantics are covered by
    test_bucketed_seen_equals_default; this pins the switch itself."""
    rules = parse_lines(blacklist_lines(corpus))
    root = str(tmp_path_factory.mktemp("store_auto"))

    # tiny threshold → auto turns ON during the crawl
    job = CrawlJob(
        spark, root, docs_df, blacklist=rules, robots=robots_df,
        n_shards=8, bucketed_seen="auto", bucketed_seen_threshold_bytes=1,
    )
    assert job.bucketed_seen == "auto"
    assert not job._bucketed_enabled()  # empty store: 0 bytes < 1
    cids = job.start(corpus.seeds[0], {"crawlingDepth": 2})
    job.run(cids)
    assert job.store.table_bytes("url_seen") >= 1
    assert job._bucketed_enabled()
    assert job._mirror_marker() is not None  # mirror actually built

    # huge threshold → stays off, no mirror artifacts: conftest's
    # reference_crawl is this crawl with default auto + default 128 MB
    # threshold
    job2 = reference_crawl[0]
    assert job2.bucketed_seen == "auto"
    assert job2.bucketed_seen_threshold_bytes == 128 << 20
    assert 0 < job2.store.table_bytes("url_seen") < 128 << 20
    assert not job2._bucketed_enabled()
    assert job2._mirror_marker() is None

    # monotone: once on, a version bump with the byte-count unchanged
    # keeps it on (cache carries prev_on forward)
    job._bucketed_cache = (job.store.current_version() - 1, True)
    job.bucketed_seen_threshold_bytes = 1 << 60  # now unreachable
    assert job._bucketed_enabled()

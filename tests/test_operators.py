"""Behavioral unit tests per SURVEY.md §2 operator (§5.3): seed
splitter separators, depth clamp, blacklist file format, index split,
batch size, bloom FP safety, salting skew bound."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from yacy_grid_crawler_spark.config import MAX_DEPTH, crawl_id, make_profile
from yacy_grid_crawler_spark.functions.bloom import UrlBloom
from yacy_grid_crawler_spark.operators.blacklist import parse_lines
from yacy_grid_crawler_spark.operators.seeds import split_seeds


def test_depth_clamp():
    # CrawlStartService.java:98-99
    assert make_profile({"crawlingDepth": 99})["crawlingDepth"] == MAX_DEPTH
    assert make_profile({"crawlingDepth": "5"})["crawlingDepth"] == 5
    assert make_profile()["crawlingDepth"] == 3


def test_profile_defaults_surface():
    # CrawlerDefaultValuesService.java:45-79 — all 32 keys present
    p = make_profile()
    for key in (
        "crawlingMode", "crawlingURL", "sitemapURL", "crawlingFile",
        "crawlingDepth", "crawlingDepthExtension", "range", "mustmatch",
        "mustnotmatch", "ipMustmatch", "ipMustnotmatch", "indexmustmatch",
        "indexmustnotmatch", "deleteold", "deleteIfOlderNumber",
        "deleteIfOlderUnit", "recrawl", "reloadIfOlderNumber",
        "reloadIfOlderUnit", "crawlingDomMaxCheck", "crawlingDomMaxPages",
        "crawlingQ", "cachePolicy", "collection", "agentName", "priority",
        "loaderHeadless", "user_id", "storeAssets", "archiveWARC",
        "archiveIndex", "archiveGraph",
    ):
        assert key in p, key
    assert p["mustnotmatch"].startswith(".*\\.(js|css|jpg")


def test_crawl_id_format():
    # CrawlerListener.java:142-147
    from datetime import datetime

    cid = crawl_id("http://example.org/x", datetime(2020, 1, 2, 3, 4, 5), 7)
    assert cid == "example.org-2020-01-02-03-04-05-7"
    long_host = "http://" + "a" * 100 + ".org/"
    cid2 = crawl_id(long_host, datetime(2020, 1, 2, 3, 4, 5), 0)
    host_part = cid2.rsplit("-2020-", 1)[0]
    assert len(host_part.split("-")[0]) == 80  # truncated + hashCode suffix


def test_seed_splitter_separators(spark):
    # CrawlerListener.java:117 — |http, %7Chttp, %0D%0A, %0A, %0D, space
    rows = split_seeds(
        [
            "http://a.x/1|http://b.x/2%7Chttp://c.x/3",
            "http://d.x/4%0D%0Ahttp://e.x/5%0Ahttp://f.x/6%0Dhttp://g.x/7 http://h.x/8",
            "junkpiece http://i.x/9",
        ],
    )
    good = [r["url"] for r in rows if r["url"] is not None]
    bad = [r["url_raw"] for r in rows if r["url"] is None]
    assert len(good) == 9
    assert bad == ["junkpiece"]


def test_driver_seed_split_equals_spark_split(spark):
    """The driver-side split that CrawlJob.start uses equals the JVM
    separator chain (split_seed_column) plus the canonicalize UDF,
    piece for piece, malformed and messy pieces included."""
    from yacy_grid_crawler_spark.functions.udfs import canonicalize
    from yacy_grid_crawler_spark.operators.seeds import split_seed_column

    seeds = [
        "http://a.x/1|http://b.x/2%7Chttp://c.x/3",
        "http://d.x/4%0D%0Ahttp://e.x/5%0Ahttp://f.x/6%0Dhttp://g.x/7 http://h.x/8",
        "junkpiece http://i.x/9",
        "HTTP://Ex.COM:80/a/../b?x=1#f",
    ]
    spark_rows = (
        spark.createDataFrame(list(enumerate(seeds)), "seed_ord int, seed_raw string")
        .select(
            "seed_ord",
            F.posexplode(split_seed_column(F.col("seed_raw"))).alias(
                "piece_ord", "url_raw"
            ),
        )
        .filter(F.col("url_raw") != "")
        .withColumn("url", canonicalize(F.col("url_raw")))
        .collect()
    )
    want = sorted(
        (r["seed_ord"], r["piece_ord"], r["url_raw"], r["url"]) for r in spark_rows
    )
    got = sorted(
        (r["seed_ord"], r["piece_ord"], r["url_raw"], r["url"])
        for r in split_seeds(seeds)
    )
    assert got == want
    assert ("HTTP://Ex.COM:80/a/../b?x=1#f", "http://ex.com/b?x=1") in {
        (g[2], g[3]) for g in got
    }


def test_blacklist_file_format():
    # Blacklist.java:59-88 + conf/config.properties:16-29
    rules = parse_lines(
        [
            "# full-line comment",
            "",
            "host evil.example # inline info",
            r".*?//10\..*+",
            "   ",
        ]
    )
    assert len(rules) == 2
    host_rule = rules[0]
    assert host_rule.rule_kind == "host"
    assert host_rule.host == "evil.example"
    assert host_rule.pattern == ".*?//evil.example/.*+"
    assert host_rule.info == "# inline info"
    assert rules[1].rule_kind == "regex"


def test_blacklist_apply(spark):
    from yacy_grid_crawler_spark.operators.blacklist import apply_blacklist

    rules = parse_lines(["host evil.example", r".*?//10\..*+"])
    df = spark.createDataFrame(
        [
            ("http://evil.example/x", "evil.example"),
            ("http://good.example/x", "good.example"),
            ("http://10.0.0.1/x", "10.0.0.1"),
        ],
        "url string, host string",
    )
    out = {r["url"]: r["blacklisted"] for r in apply_blacklist(df, rules).collect()}
    assert out == {
        "http://evil.example/x": True,
        "http://good.example/x": False,
        "http://10.0.0.1/x": True,
    }


def test_blacklist_backreference_pattern(spark):
    """A pattern with a backreference must not be folded into the
    combined alternation: '(?:p1)|(?:p2)' renumbers capturing groups,
    so p2's \\1 would point into p1 — compiles fine, matches wrong."""
    from yacy_grid_crawler_spark.functions.udfs import make_regex_full_match_udf

    df = spark.createDataFrame(
        [("cdcdy",), ("cdy",), ("ab",)], "url string"
    )
    # first pattern contributes a capturing group; second relies on \1
    hit = make_regex_full_match_udf([r"(a)b", r"(cd)\1y"])
    out = {r["url"]: r["hit"] for r in df.select("url", hit("url").alias("hit")).collect()}
    assert out == {"cdcdy": True, "cdy": False, "ab": True}


def test_jvm_safe_pattern_grammar():
    """Dialect-safe grammar: only tokens with identical Python-re /
    Java-Pattern semantics pass; everything dialect-sensitive rides
    the Arrow kernel."""
    from yacy_grid_crawler_spark.operators.blacklist import jvm_safe_pattern

    safe = [
        r".*\.xml",
        r".*/robots\.txt",
        r".*\.(js|css|jpg)",
        r"http://[a-z0-9.-]+/private/.*",
        r".*?//ads\..*",
        r"(?:a|b)c{2,3}d",
        r".*?//10\..*+",  # possessive: identical in Java and re>=3.11
        r".*?//evil\.example/.*+",
    ]
    unsafe = [
        r"\d+\.html",  # \d: ASCII in Java, Unicode in Python
        r"(?i)track",  # inline flag
        r"(a)b\1",  # backreference
        r"^http.*$",  # anchors ($ newline quirk)
        r"(?=x).*",  # lookahead
        r"\w+",  # \w dialect-sensitive
        r"a*++",  # stacked quantifiers
        r"{2}",  # Java: Illegal repetition; Python: literal "{2}"
        r"a|{2}",  # same, after alternation
        r"(?:{2})",  # same, after group open
        r"a{",  # dangling '{': Java throws, Python literal
    ]
    assert all(jvm_safe_pattern(p) for p in safe), [
        p for p in safe if not jvm_safe_pattern(p)
    ]
    assert not any(jvm_safe_pattern(p) for p in unsafe), [
        p for p in unsafe if jvm_safe_pattern(p)
    ]


def test_parse_lines_skips_uncompilable_rules():
    """Blacklist.java:75-84 parity: a line whose regex cannot compile
    is warn-skipped, never a crash — for both regex and host lines."""
    from yacy_grid_crawler_spark.operators.blacklist import parse_lines

    rules = parse_lines(
        [
            r".*\.xml",
            r"(unclosed",  # compile error in both dialects
            r"*leading",  # nothing to repeat
            "host ok.example",
            "host bad[.example",  # host interpolates into an invalid regex
        ]
    )
    assert [(r.rule_kind, r.pattern) for r in rules] == [
        ("regex", r".*\.xml"),
        ("host", ".*?//ok.example/.*+"),
    ]


def test_blacklist_jvm_fast_path_equivalence(spark):
    """Mixed safe/unsafe regex rules: the split JVM-rlike + Arrow
    verdict must equal a pure-Python re.fullmatch ground truth, and
    safe-only rule lists must produce a zero-Python plan."""
    import re as _re

    from yacy_grid_crawler_spark.operators.blacklist import apply_blacklist

    rules = parse_lines(
        [
            r".*\.xml",  # JVM-safe
            r".*/tracker/.*",  # JVM-safe
            r".*?//10\..*+",  # possessive -> JVM-safe (re>=3.11 semantics)
            r".*/p/a*+ab",  # possessive that CHANGES the language
            r"(x)\1\.html",  # backreference -> Arrow path
            "host evil.example",
        ]
    )
    urls = [
        "http://a.example/feed.xml",
        "http://a.example/feed.xml.gz",
        "http://b.example/tracker/p",
        "http://10.0.0.1/x",
        "http://evil.example/x",
        "http://plain.example/x",
        "http://c.example/p/aaab",  # a*+ eats every 'a': NOT blacklisted
        "http://c.example/xx.html",
    ]
    df = spark.createDataFrame(
        [(u, _re.match(r"^[a-z]+://([^/]+)", u).group(1)) for u in urls],
        "url string, host string",
    )
    out = {r["url"]: r["blacklisted"] for r in apply_blacklist(df, rules).collect()}
    regs = [_re.compile(r.pattern) for r in rules if r.rule_kind == "regex"]
    for u in urls:
        expect = u.split("/")[2] == "evil.example" or any(
            rg.fullmatch(u) for rg in regs
        )
        assert out[u] == expect, u
    # safe-only rules: the verdict stays JVM-side (no Python eval node)
    safe_only = parse_lines([r".*\.xml", r".*/tracker/.*", "host evil.example"])
    plan = apply_blacklist(df, safe_only)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "RLIKE" in plan or "rlike" in plan


def test_batch_size_8(spark):
    from yacy_grid_crawler_spark.operators.batching import assign_batches

    df = spark.createDataFrame(
        [("c", True, i, 0) for i in range(20)],
        "crawl_id string, do_index boolean, parent_ord int, span_offset int",
    )
    out = assign_batches(df, order=("parent_ord", "span_offset")).collect()
    by = {(r["batch_no"], r["batch_pos"]) for r in out}
    assert (0, 7) in by and (1, 0) in by and (2, 3) in by
    assert max(r["batch_pos"] for r in out) == 7  # CrawlerListener.java:406


def test_distributed_rank_matches_window(spark):
    from yacy_grid_crawler_spark.operators.batching import assign_batches

    rows = [("c", i % 2 == 0, (i * 7) % 100, i) for i in range(500)]
    df = spark.createDataFrame(
        rows, "crawl_id string, do_index boolean, parent_ord int, span_offset int"
    )
    a = {
        (r["do_index"], r["parent_ord"], r["span_offset"]): (r["batch_no"], r["batch_pos"])
        for r in assign_batches(df, order=("parent_ord", "span_offset")).collect()
    }
    b = {
        (r["do_index"], r["parent_ord"], r["span_offset"]): (r["batch_no"], r["batch_pos"])
        for r in assign_batches(
            df, order=("parent_ord", "span_offset"), distributed=True
        ).collect()
    }
    assert a == b


def test_distributed_rank_empty_input(spark):
    """An all-duplicate wave reaches batching with zero rows — the
    two-phase rank must not choke on the empty offsets table."""
    from yacy_grid_crawler_spark.operators.batching import assign_batches

    df = spark.createDataFrame(
        [], "crawl_id string, do_index boolean, parent_ord int, span_offset int"
    )
    out = assign_batches(df, order=("parent_ord", "span_offset"), distributed=True)
    assert out.count() == 0
    assert "batch_no" in out.columns and "batch_pos" in out.columns


def test_bloom_no_false_negatives():
    # SURVEY.md §7: bloom FP must never cause a false DROP; negatives
    # are exact by construction
    import hashlib

    ids = pd.Series([hashlib.md5(str(i).encode()).hexdigest() for i in range(5000)])
    bloom = UrlBloom(5000, fpp=0.01)
    bloom.add_many(ids)
    assert bloom.might_contain(ids).all()  # zero false negatives
    novel = pd.Series(
        [hashlib.md5(f"new{i}".encode()).hexdigest() for i in range(5000)]
    )
    fp_rate = bloom.might_contain(novel).mean()
    assert fp_rate < 0.05


def test_bloom_spark_build_roundtrip(spark):
    import hashlib

    from yacy_grid_crawler_spark.functions.bloom import build_from_spark

    ids = [(hashlib.md5(str(i).encode()).hexdigest(),) for i in range(2000)]
    df = spark.createDataFrame(ids, "url_id string")
    bloom = build_from_spark(df, n_items=2000)
    probe = pd.Series([i[0] for i in ids])
    assert bloom.might_contain(probe).all()


def test_hot_host_salting_bounds_skew(spark):
    from yacy_grid_crawler_spark.operators.batching import assign_shard

    # 90% of rows on one host (Zipf head)
    rows = [
        ("hot.example" if i < 900 else f"cold{i}.example", f"id{i}") for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "host string, url_id string")
    out = assign_shard(df, n_shards=16, hot_host_threshold=100, n_salts=8)
    per_shard = (
        out.filter(F.col("host") == "hot.example").groupBy("shard").count().collect()
    )
    assert len(per_shard) >= 6  # hot host fanned out over ≥6 shards
    unsalted = assign_shard(df, n_shards=16)
    hot_shards = (
        unsalted.filter(F.col("host") == "hot.example")
        .select("shard")
        .distinct()
        .count()
    )
    assert hot_shards == 1  # without salting: one straggler shard


def test_index_noindex_split(spark):
    from yacy_grid_crawler_spark.operators.filters import do_index_verdict

    df = spark.createDataFrame(
        [("http://a.x/page.html",), ("http://a.x/private.html",)], "url string"
    )
    out = df.withColumn(
        "do_index", do_index_verdict(F.col("url"), ".*", ".*private.*")
    ).collect()
    m = {r["url"]: r["do_index"] for r in out}
    # both still crawled, only the flag differs (CrawlerListener.java:368-384)
    assert m["http://a.x/page.html"] is True
    assert m["http://a.x/private.html"] is False


def test_jvm_kernels_match_python_spec(spark):
    """The JVM fast-gate regex and content-domain classifier must agree
    with the Python spec char-for-char (dialect-drift guard)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from yacy_grid_crawler_spark.functions.urlnorm import (
        _FAST_CANONICAL_RE,
        FAST_CANONICAL_PATTERN,
        canonicalize_url,
        content_domain,
    )
    from yacy_grid_crawler_spark.operators.filters import content_domain_jvm

    urls = [
        "http://a.com/x.html",
        "http://a.com/x.HTML",
        "http://a.com/a/b/",
        "http://a.com/x.jpg",
        "http://a.com/x.abcdef",
        "http://a.com/x.tar.gz",
        "http://a.com/file.",
        "http://a.com/.hidden",
        "http://a.com/x?q=a.jpg",
        "http://a.com/x.php?a=1?b=2.png",
        "http://a.com/p%20q/x.mp4",
        "http://a.com/",
        "HTTP://a.com/x",
        "http://a.com//x",
        "http://a.com/a/../b.pdf",
        "http://u@a.com/x",
        "http://a.com./x",
        "http://a.com:8080/x.mp3",
        # trailing-newline regression: '$' matched before a final '\n'
        # in both dialects, letting the raw URL through the gate with
        # a different url_id than the stripped canonical form
        "http://a.com/x\n",
        "http://a.com/x\r\n",
        "http://a.com/..\n",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url_raw string")
    rows = (
        df.withColumn("fast", F.regexp_like("url_raw", F.lit(FAST_CANONICAL_PATTERN)))
        .withColumn(
            "dom_jvm",
            content_domain_jvm(
                F.when(F.col("fast"), F.col("url_raw"))
            ),
        )
        .collect()
    )
    for r in rows:
        assert r["fast"] == bool(_FAST_CANONICAL_RE.match(r["url_raw"])), (
            f"gate dialect drift on {r['url_raw']!r}"
        )
        if r["fast"]:
            canon = canonicalize_url(r["url_raw"])
            assert canon == r["url_raw"]
            assert r["dom_jvm"] == content_domain(canon), (
                f"domain drift on {canon!r}: jvm={r['dom_jvm']}"
            )
        else:
            assert r["dom_jvm"] is None


def test_default_indexer_rules_semantics():
    """The shipped default mirrors grid.indexer.blacklist's filetype
    list (conf/config.properties:30): xml/css/js/robots.txt are kept
    out of the index (full-match, like Blacklist.java:119-125)."""
    import re as _re

    from yacy_grid_crawler_spark.operators.blacklist import (
        default_indexer_rules,
    )

    rules = default_indexer_rules()
    assert rules and all(r.rule_kind == "regex" for r in rules)
    pats = [_re.compile(r.pattern) for r in rules]
    hit = lambda u: any(p.fullmatch(u) for p in pats)
    assert hit("http://h.example.org/sitemap.xml")
    assert hit("http://h.example.org/style/main.css")
    assert hit("http://h.example.org/app.js")
    assert hit("http://h.example.org/robots.txt")
    assert not hit("http://h.example.org/page/00001.html")
    assert not hit("http://h.example.org/robots.txt.html")
    assert not hit("http://h.example.org/app.json")


def test_cli_indexer_blacklist_default():
    """CLI defaults to the reference's default indexer blacklist;
    'none' disables it."""
    from yacy_grid_crawler_spark.__main__ import build_parser

    ap = build_parser()
    assert ap.parse_args([]).indexer_blacklist == "default"
    assert ap.parse_args(["--indexer-blacklist", "none"]).indexer_blacklist == "none"


def test_cli_default_values(capsys):
    from yacy_grid_crawler_spark.__main__ import main

    assert main(["--default-values"]) == 0
    import json as _json

    out = _json.loads(capsys.readouterr().out)
    assert out["crawlingDepth"] == 3
    assert out["mustmatch"] == ".*"


def test_cli_crawl_end_to_end(spark, corpus, docs_df, tmp_path, capsys):
    """The spark-submit surface drives a real crawl (SURVEY.md §3.3)."""
    import json as _json

    from yacy_grid_crawler_spark.__main__ import main

    docs_path = str(tmp_path / "docs.parquet")
    docs_df.write.parquet(docs_path)
    store = str(tmp_path / "store")
    rc = main(
        [
            "--docs", docs_path,
            "--store", store,
            "--crawling-url", corpus.seeds[0],
            "--crawling-depth", "12",  # must clamp to 8
            "--cores", "8",
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["success"] and len(out["crawl_ids"]) == 1
    cid = out["crawl_ids"][0]
    assert out["metrics"][cid]["extracted"] > 0
    from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob

    job = CrawlJob(spark, store, docs_df)
    assert _json.loads(job.store.manifest()["meta"]["profiles"][cid])[
        "crawlingDepth"
    ] == 8
    # --resume against a finished store is a no-op that succeeds and
    # leaves the snapshot version unchanged
    v_before = job.store.current_version()
    rc = main(["--docs", docs_path, "--store", store, "--resume", "--cores", "8"])
    assert rc == 0
    out2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["success"] and out2["resumed"]
    from yacy_grid_crawler_spark.sources.statestore import StateStore

    assert StateStore(spark, store).current_version() == v_before


def test_cuckoo_filter_contract(spark):
    """Cuckoo seen-filter: no false negatives, exact deletes (TTL
    sweep without rebuild), and the bloom_prefilter contract — a FP
    can never cause a false drop because the anti-join decides."""
    import hashlib

    import pandas as pd
    from pyspark.sql import functions as F

    from yacy_grid_crawler_spark.functions.cuckoo import UrlCuckoo, build_from_spark
    from yacy_grid_crawler_spark.operators.dedup import dedup_against_seen

    ids = pd.Series([hashlib.md5(f"u{i}".encode()).hexdigest() for i in range(20000)])
    cf = UrlCuckoo(30000)
    cf.add_many(ids)
    assert cf.might_contain(ids).all()  # no false negatives, ever
    fresh = pd.Series([hashlib.md5(f"x{i}".encode()).hexdigest() for i in range(20000)])
    assert cf.might_contain(fresh).mean() < 0.01  # sane FP rate
    # TTL sweep: delete expired ids in place
    expired = ids[:10000]
    assert cf.delete_many(expired) == len(expired)
    assert cf.might_contain(expired).mean() < 0.01
    assert cf.might_contain(ids[10000:]).all()

    # distributed build + end-to-end prefilter equality vs exact path
    seen_df = spark.createDataFrame(
        [(u,) for u in ids[:5000]], "url_id string"
    ).withColumn("crawl_id", F.lit("c1"))
    cand = spark.createDataFrame(
        [(u,) for u in pd.concat([ids[:2000], fresh[:2000]])], "url_id string"
    ).withColumn("crawl_id", F.lit("c1"))
    built = build_from_spark(seen_df, key="url_id")
    assert built.might_contain(ids[:5000]).all()
    exact = {
        r["url_id"]
        for r in dedup_against_seen(cand, seen_df, use_bloom=False).collect()
    }
    via_cuckoo = {
        r["url_id"]
        for r in dedup_against_seen(
            cand, seen_df, use_bloom=True, filter_kind="cuckoo"
        ).collect()
    }
    assert via_cuckoo == exact


def test_distributed_politeness_matches_window(spark):
    """politeness_slots(distributed=True) must produce the identical
    fetch_slot/not_before as the window formulation, including on a
    skewed host distribution (the case it exists for)."""
    from pyspark.sql import functions as F

    from yacy_grid_crawler_spark.operators.batching import politeness_slots

    df = spark.range(5000).select(
        F.lit("c1").alias("crawl_id"),
        F.concat(
            F.lit("host"),
            F.when(F.col("id") % 5 < 4, F.lit("hot")).otherwise(
                (F.col("id") % 37).cast("string")
            ),
        ).alias("host"),
        F.md5(F.col("id").cast("string")).alias("url_id"),
        (F.col("id") % 3 == 0).alias("do_index"),
        (F.col("id") / 8).cast("bigint").alias("batch_no"),
        (F.col("id") % 8).cast("int").alias("batch_pos"),
    )
    robots = spark.createDataFrame(
        [("hosthot", ["/x/"], 250)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms int",
    )
    cols = ["crawl_id", "host", "url_id", "fetch_slot", "not_before_ms"]
    win = {
        tuple(r)
        for r in politeness_slots(df, robots, wave_start_ms=1000)
        .select(*cols)
        .collect()
    }
    dist = {
        tuple(r)
        for r in politeness_slots(df, robots, wave_start_ms=1000, distributed=True)
        .select(*cols)
        .collect()
    }
    assert dist == win


def test_jsonlist_roundtrip(spark, tmp_path):
    """Reference NDJSON graph-asset format (JSONList,
    CrawlerListener.java:233-244) → spans model → back: directive
    lines skipped, field order fixes offsets, images never become link
    spans, round-trip preserves every field."""
    import json as _json

    from yacy_grid_crawler_spark.operators.extract import extract_links
    from yacy_grid_crawler_spark.sources.jsonlist import (
        read_jsonlist,
        write_jsonlist,
    )

    src = tmp_path / "asset"
    src.mkdir()
    doc = {
        "url_s": "http://a.com/p.html",
        "canonical_s": "http://a.com/p.html",
        "inboundlinks_sxt": ["http://a.com/x.html", "http://a.com/y.html"],
        "outboundlinks_sxt": ["http://b.org/z.html"],
        "frames_sxt": [],
        "iframes_sxt": ["http://c.net/f.html"],
        "images_sxt": ["http://a.com/img.jpg"],
        "text_t": "hello world",
    }
    (src / "part.jsonl").write_text(
        _json.dumps({"index": {"_id": "x"}}) + "\n" + _json.dumps(doc) + "\n"
    )
    docs = read_jsonlist(spark, str(src))
    rows = docs.collect()
    assert len(rows) == 1  # directive line skipped
    spans = sorted(rows[0]["spans"], key=lambda s: s["offset"])
    kinds = [s["kind"] for s in spans]
    assert kinds == [
        "canonical", "inbound", "inbound", "outbound", "iframe", "media", "text",
    ]
    assert [s["offset"] for s in spans] == list(range(7))
    media = [s for s in spans if s["kind"] == "media"][0]
    assert media["media_ref"] == "http://a.com/img.jpg" and media["text"] is None
    # media spans never yield frontier URLs
    links = extract_links(docs).collect()
    assert all(r["kind"] != "media" for r in links)
    assert {r["url_raw"] for r in links} == {
        "http://a.com/p.html", "http://a.com/x.html", "http://a.com/y.html",
        "http://b.org/z.html", "http://c.net/f.html",
    }
    # round-trip back to NDJSON
    out = tmp_path / "out"
    write_jsonlist(docs, str(out))
    lines = []
    for f in out.glob("part-*"):
        lines += [l for l in f.read_text().splitlines() if l.strip()]
    assert len(lines) == 1
    back = _json.loads(lines[0])
    for k, v in doc.items():
        assert back.get(k) == v, (k, back.get(k), v)


def test_asset_lineage_naming(spark):
    """S9 full asset naming (CrawlerListener.java:497-503): docname
    d{depth:02}-t{ts+ini}-p{part:04}; asset paths gated per archive
    flag; noindex rows get the +1ms ini offset (:412)."""
    from pyspark.sql import functions as F

    from yacy_grid_crawler_spark.operators.batching import (
        asset_columns,
        lineage_column,
    )

    df = spark.createDataFrame(
        [(3, 7, True), (3, 7, False)], "depth int, batch_no long, do_index boolean"
    ).withColumn(
        "lineage",
        lineage_column(
            timestamp_ms=1577836800999,
            ini_col=(1 - F.col("do_index").cast("int")),
        ),
    )
    out = {
        r["do_index"]: r
        for r in asset_columns(
            df, user_id="u1", crawl_id="cid9",
            archive_warc=True, archive_index=False, archive_graph=True,
        ).collect()
    }
    assert out[True]["lineage"] == "d03-t20200101000000999-p0007"
    # noindex: timestamp + 1 ms rolls into the next second
    assert out[False]["lineage"] == "d03-t20200101000001000-p0007"
    assert (
        out[True]["warc_asset"]
        == "/data/aaaaa/accounting/u1/warc/cid9/d03-t20200101000000999-p0007.warc.gz"
    )
    assert out[True]["index_asset"] is None  # archiveIndex off
    assert out[True]["graph_asset"].endswith(".graph.jsonlist")


def test_collection_parser():
    """WebMapping.collectionParser contract (CrawlerListener.java:
    257-258): comma list of name or name:pattern; bare name → '.*'."""
    from yacy_grid_crawler_spark.config import parse_collections

    assert parse_collections("user") == {"user": ".*"}
    assert parse_collections("") == {}
    assert parse_collections(None) == {}
    assert parse_collections("news:.*/news/.*,user,media:.*\\.jpg") == {
        "news": ".*/news/.*",
        "user": ".*",
        "media": ".*\\.jpg",
    }


def test_collections_verdict_matches_subset(spark):
    """Per-URL collection pattern matching: a patterned collection
    string tags only the URLs its pattern full-matches."""
    from yacy_grid_crawler_spark.config import parse_collections
    from yacy_grid_crawler_spark.operators.filters import collections_verdict

    colls = parse_collections("news:.*/news/.*,all")
    df = spark.createDataFrame(
        [("http://a.x/news/1.html",), ("http://a.x/blog/2.html",)],
        "url string",
    )
    out = {
        r["url"]: list(r["colls"])
        for r in df.select(
            "url", collections_verdict(F.col("url"), colls).alias("colls")
        ).collect()
    }
    assert out["http://a.x/news/1.html"] == ["news", "all"]
    assert out["http://a.x/blog/2.html"] == ["all"]


def test_wave_status_carries_collection_names(spark, corpus, docs_df, robots_df, tmp_path):
    """Every status doc carries the profile's parsed collection name
    set (CrawlerListener.java:322 setCollections(keySet()))."""
    from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob

    seed = corpus.seeds[0].split("|")[0]
    job = CrawlJob(spark, str(tmp_path / "st"), docs_df, robots=robots_df, n_shards=4)
    (cid,) = job.start(seed, {"crawlingDepth": 1, "collection": "user,extra:.*x.*"})
    job.run([cid])
    rows = job.store.read("crawl_status").select("collections").distinct().collect()
    assert len(rows) == 1 and list(rows[0]["collections"]) == ["user", "extra"]


def test_user_ids_plural():
    """CrawlerListener.java:195-199: user_ids array accepted; the
    singular user_id appended iff absent."""
    from yacy_grid_crawler_spark.config import build_crawl_start, make_profile

    p = build_crawl_start(make_profile({}), "http://a.x/p")
    assert p["user_ids"] == ["anonymous"]
    p2 = build_crawl_start(
        make_profile({"user_id": "u1", "user_ids": ["u2", "u1"]}), "http://a.x/p"
    )
    assert p2["user_ids"] == ["u2", "u1"]
    p3 = build_crawl_start(
        make_profile({"user_id": "u3", "user_ids": ["u2"]}), "http://a.x/p"
    )
    assert p3["user_ids"] == ["u2", "u3"]


def test_tier2_jvm_equals_spec(spark):
    """JVM tier-2 gate + string repair vs the Python spec, char for
    char (dialect-drift guard like the tier-1 test)."""
    from yacy_grid_crawler_spark.functions.urlnorm import (
        _TIER2_CANONICAL_RE,
        TIER2_CANONICAL_PATTERN_JVM,
        canonicalize_url,
        tier2_fix_jvm,
    )

    urls = [
        "HTTP://Host0.Example.ORG/page/1.html",
        "hTtPs://A.B/x/y/",
        "http://a.com/x.html#frag",
        "HTTP://A.COM/Path.CASE/kept#f#g",
        "http://a.com/#",
        "http://a.com/x#frag/with/slash?and=query",
        "http://a.com/x#f g",   # whitespace in fragment → malformed
        "http://a.com:80/x",    # port → python path
        "http://a.com/x?q=1",   # query → python path
        "http://a.com/a/../b",  # dot segment → python path
        "http://u@a.com/x",     # userinfo → python path
        "http://a.com/x\n",     # trailing newline → python path
        "http://a.com/x",       # tier-1 too (gate may overlap)
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        "url",
        F.regexp_like("url", F.lit(TIER2_CANONICAL_PATTERN_JVM)).alias("t2"),
        tier2_fix_jvm(F.col("url")).alias("fixed"),
    ).collect()
    for r in rows:
        py = bool(_TIER2_CANONICAL_RE.match(r["url"]))
        assert r["t2"] == py, f"tier2 gate dialect drift on {r['url']!r}"
        if py:
            assert r["fixed"] == canonicalize_url(r["url"]), r["url"]


def test_parse_robots_bodies(spark):
    """CRLF bodies, empty-Disallow dropped, first Crawl-delay wins,
    absent delay -> 0."""
    from yacy_grid_crawler_spark.operators.robots import parse_robots

    bodies = spark.createDataFrame(
        [
            ("a.com", "User-agent: *\r\nDisallow: /priv/\r\nCrawl-delay: 2\r\n"
                      "Crawl-delay: 9\r\nDisallow:   /tmp/  "),
            ("b.com", "User-agent: x\nDisallow: /only-x/\nUser-agent: *\n"
                      "Disallow:\nDisallow: /b/"),
            ("c.com", "# nothing here"),
        ],
        "host string, robots_txt string",
    )
    out = {r["host"]: r for r in parse_robots(bodies).collect()}
    assert out["a.com"]["disallow_prefixes"] == ["/priv/", "/tmp/"]
    assert out["a.com"]["crawl_delay_ms"] == 2000
    # conservative union across UA groups; empty Disallow dropped
    assert out["b.com"]["disallow_prefixes"] == ["/only-x/", "/b/"]
    assert out["b.com"]["crawl_delay_ms"] == 0
    assert out["c.com"]["disallow_prefixes"] == []
    assert out["c.com"]["crawl_delay_ms"] == 0


def test_parse_robots_feeds_robots_verdict(spark):
    """The parsed dim plugs straight into the wave's robots gate."""
    from pyspark.sql import functions as F

    from yacy_grid_crawler_spark.operators.filters import robots_verdict
    from yacy_grid_crawler_spark.operators.robots import parse_robots

    rules = parse_robots(
        spark.createDataFrame(
            [("a.com", "User-agent: *\nDisallow: /private/")],
            "host string, robots_txt string",
        )
    )
    urls = spark.createDataFrame(
        [
            ("a.com", "http://a.com/private/x.html"),
            ("a.com", "http://a.com/public/x.html"),
            ("z.com", "http://z.com/private/x.html"),
        ],
        "host string, url string",
    )
    out = {
        r["url"]: r["robots_blocked"]
        for r in robots_verdict(urls, rules).collect()
    }
    assert out == {
        "http://a.com/private/x.html": True,
        "http://a.com/public/x.html": False,
        "http://z.com/private/x.html": False,
    }


def test_next_fetch_batch_priority_eligibility_cap(spark):
    """Priority lane dequeues first, politeness-ineligible rows are
    invisible, and the per-shard cap binds."""
    from yacy_grid_crawler_spark.operators.batching import next_fetch_batch

    rows = [
        # (doc_id, shard, lane, batch_no, batch_pos, not_before_ms)
        (1, 0, "normal", 0, 0, 0),
        (2, 0, "normal", 0, 1, 0),
        (3, 0, "priority", 5, 0, 0),     # later batch, but priority lane
        (4, 0, "normal", 0, 2, 9000),    # not yet eligible
        (5, 1, "normal", 0, 0, 0),
    ] + [(10 + i, 2, "normal", 0, i, 0) for i in range(6)]
    fr = spark.createDataFrame(
        rows,
        "doc_id long, shard int, lane string, batch_no long,"
        " batch_pos int, not_before_ms long",
    )
    out = next_fetch_batch(fr, now_ms=1000, k=3).collect()
    got = {r["doc_id"]: r["fetch_rank"] for r in out}
    assert 4 not in got                      # politeness gate
    assert got[3] == 0                       # priority first in shard 0
    assert got[1] == 1 and got[2] == 2
    assert got[5] == 0
    shard2 = sorted(r["doc_id"] for r in out if r["shard"] == 2)
    assert shard2 == [10, 11, 12]            # k=3 cap per shard


def test_parse_sitemap_locs(spark):
    from yacy_grid_crawler_spark.operators.seeds import parse_sitemap

    xml = spark.createDataFrame(
        [
            (1, "<urlset><url><loc>http://a/1</loc></url>"
                "<url><loc>http://a/2</loc></url></urlset>"),
            (2, "<urlset></urlset>"),
            (3, "junk <loc>http://b/x</loc> trailing"),
        ],
        "doc_id long, sitemap_xml string",
    )
    out = sorted(
        (r["doc_id"], r["loc"]) for r in parse_sitemap(xml).collect()
    )
    assert out == [
        (1, "http://a/1"), (1, "http://a/2"), (3, "http://b/x"),
    ]


def test_recrawl_due_ttl_boundary(spark):
    from yacy_grid_crawler_spark.sources.statestore import recrawl_due

    day = 86_400_000
    seen = spark.createDataFrame(
        [
            ("c0", "u_old", 0),                # 30 days old -> due
            ("c0", "u_edge", 23 * day),        # exactly 7 days -> NOT due
            ("c0", "u_fresh", 29 * day),       # 1 day -> not due
            ("c0", "u_just", 23 * day - 1),    # 7 days + 1ms -> due
        ],
        "crawl_id string, url_id string, seen_at_ms long",
    )
    out = {r["url_id"]: r["age_ms"] for r in recrawl_due(seen, now_ms=30 * day).collect()}
    assert set(out) == {"u_old", "u_just"}
    assert out["u_old"] == 30 * day


def test_cli_robots_bodies(spark, corpus, docs_df, tmp_path, capsys):
    """--robots-bodies parses raw robots.txt bodies into the rules dim
    and the crawl honors them end-to-end."""
    import json as _json

    from yacy_grid_crawler_spark.__main__ import main

    docs_path = str(tmp_path / "docs.parquet")
    docs_df.write.parquet(docs_path)
    bodies = spark.createDataFrame(
        [
            (h, "User-agent: *\nDisallow: " + (r["disallow"][0] if r["disallow"] else "/none/")
                + "\nCrawl-delay: " + str(r["delay_ms"] // 1000))
            for h, r in corpus.robots.items()
        ],
        "host string, robots_txt string",
    )
    bodies_path = str(tmp_path / "robots_bodies.parquet")
    bodies.write.parquet(bodies_path)
    store = str(tmp_path / "store")
    rc = main(
        [
            "--docs", docs_path,
            "--store", store,
            "--crawling-url", corpus.seeds[0],
            "--crawling-depth", "2",
            "--robots-bodies", bodies_path,
            "--cores", "8",
        ]
    )
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["crawl_ids"]


def test_warc_build_parse_roundtrip(spark):
    from yacy_grid_crawler_spark.sources.warc import (
        build_warc_records,
        parse_warc_records,
    )

    docs = spark.createDataFrame(
        [
            (1, "http://a.example.org/doc/1", "hello world"),
            (2, "http://b.example.org/doc/2", ""),          # empty payload
            (3, "http://c.example.org/doc/3", "café"),  # non-ASCII
            (4, "http://d.example.org/doc/4", "line1\nline2\n\nline4"),
        ],
        "doc_id long, target_uri string, text string",
    )
    built = build_warc_records(docs)
    rows = {r["doc_id"]: r for r in built.collect()}
    # Content-Length is BYTE length: 'café' = 5 octets, 4 chars
    assert "Content-Length: 5\r\n" in rows[3]["warc_record"]
    assert "Content-Length: 0\r\n" in rows[2]["warc_record"]
    assert rows[1]["warc_record"].startswith("WARC/1.0\r\n")
    assert rows[1]["warc_record"].endswith("hello world\r\n\r\n")

    parsed = {
        r["target_uri"]: r for r in parse_warc_records(built).collect()
    }
    orig = {r["target_uri"]: r["text"] for r in docs.collect()}
    assert set(parsed) == set(orig)
    for uri, p in parsed.items():
        assert p["payload"] == orig[uri]
        assert p["length_ok"] is True
        assert p["content_type"] == "text/plain; charset=utf-8"
        assert p["record_id"].startswith("urn:md5:")


def test_span_diff_classifies_all_divergence_kinds(spark):
    from yacy_grid_crawler_spark.operators.extract import span_diff

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        )

    s = lambda k, t, m, o: (k, t, m, o)
    a = mk([
        ("d1", [s("canonical", "u1", "", 0)]),
        ("d2", [s("canonical", "u2", "", 0), s("media", "", "img1", 1)]),
        ("d3", [s("outbound", "x", "", 0)]),
        ("d4", [s("outbound", "x", "", 0)]),          # order matters below
    ])
    b = mk([
        ("d1", [s("canonical", "u1", "", 0)]),         # equal → absent
        ("d2", [s("media", "", "img1", 1), s("canonical", "u2", "", 0)]),  # reordered
        ("d4", [s("outbound", "y", "", 0)]),           # text differs
        ("d5", [s("canonical", "u5", "", 0)]),         # only in b
    ])
    out = {r["doc_id"]: r["status"] for r in span_diff(a, b).collect()}
    assert out == {
        "d2": "differ", "d3": "only_a", "d4": "differ", "d5": "only_b",
    }


def test_assemble_text_offset_order_and_media_skip(spark):
    from yacy_grid_crawler_spark.operators.extract import assemble_text

    docs = spark.createDataFrame(
        [
            # scrambled offsets; media interleaved mid-sequence
            ("d1", [("outbound", "world", "", 2),
                    ("media", "", "img://x", 1),
                    ("canonical", "hello", "", 0)]),
            ("d2", [("media", "", "img://y", 0)]),   # media-only
            ("d3", []),                               # empty
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = {r["doc_id"]: r for r in assemble_text(docs).collect()}
    assert out["d1"]["assembled_text"] == "hello world"
    assert out["d1"]["n_text_spans"] == 2 and out["d1"]["n_media_spans"] == 1
    assert out["d2"]["assembled_text"] == "" and out["d2"]["n_media_spans"] == 1
    assert out["d3"]["assembled_text"] == "" and out["d3"]["n_text_spans"] == 0


def test_spark_submit_py_files_deployment(tmp_path):
    """North-rule deployment shape: the engine ships to a fresh
    spark-submit driver ONLY as a --py-files zip (no repo on
    sys.path), runs a crawl, and reports metrics. Skipped when
    spark-submit isn't on this box."""
    import json
    import shutil
    import subprocess
    import zipfile

    spark_submit = shutil.which("spark-submit") or (
        "/opt/spark/bin/spark-submit"
        if os.path.exists("/opt/spark/bin/spark-submit")
        else None
    )
    if spark_submit is None:
        pytest.skip("spark-submit not available")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = tmp_path / "engine.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        pkg = os.path.join(repo, "yacy_grid_crawler_spark")
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, repo))

    from yacy_grid_crawler_spark.fixtures.gen import generate

    corpus = generate(seed=3, n_docs=40, n_hosts=5)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pylist(
            [{"doc_id": d["doc_id"], "spans": d["spans"]} for d in corpus.docs]
        ),
        tmp_path / "docs.parquet",
    )
    driver = tmp_path / "run_crawl.py"
    driver.write_text(
        "from yacy_grid_crawler_spark.__main__ import main\n"
        "import sys; sys.exit(main(sys.argv[1:]))\n"
    )
    proc = subprocess.run(
        [
            spark_submit, "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", str(zip_path), str(driver),
            "--docs", str(tmp_path / "docs.parquet"),
            "--store", str(tmp_path / "store"),
            "--crawling-url", corpus.seeds[0],
            "--crawling-depth", "1",
        ],
        capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path),  # repo must NOT be importable from cwd
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert out["success"] is True and len(out["crawl_ids"]) == 1
    metrics = out["metrics"][out["crawl_ids"][0]]
    assert metrics["extracted"] > 0 and metrics["accepted"] > 0


def test_robots_sitemaps_extraction(spark):
    from yacy_grid_crawler_spark.operators.robots import robots_sitemaps

    bodies = spark.createDataFrame(
        [
            ("a", "User-agent: *\r\nSitemap: http://a/s1.xml\r\n"
             "Disallow: /x\nSitemap: http://a/s2.xml"),
            ("b", "User-agent: *\nDisallow: /"),       # none -> no rows
            ("c", "Sitemap:\nSitemap:   http://c/s.xml  "),  # empty dropped
        ],
        "host string, robots_txt string",
    )
    rows = sorted(
        (r["host"], r["sitemap_url"])
        for r in robots_sitemaps(bodies).collect()
    )
    assert rows == [
        ("a", "http://a/s1.xml"),
        ("a", "http://a/s2.xml"),
        ("c", "http://c/s.xml"),
    ]


def test_resolve_redirects_chains_cycles_terminals(spark):
    """Pointer doubling: exact hops on chains, self for terminals,
    NULL/-1 give-up on cycles; string ids work (md5 url_id shape)."""
    from yacy_grid_crawler_spark.operators.graph import resolve_redirects

    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("x",), ("y",), ("lone",)],
        "url_id string",
    )
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("y", "x")],
        "src string, dst string",
    )
    out = {r["url_id"]: (r["final_id"], r["hops"])
           for r in resolve_redirects(nodes, edges).collect()}
    assert out["a"] == ("d", 3)
    assert out["b"] == ("d", 2)
    assert out["c"] == ("d", 1)
    assert out["d"] == ("d", 0)
    assert out["lone"] == ("lone", 0)
    assert out["x"] == (None, -1) and out["y"] == (None, -1)
    # a 9-hop chain resolves within ceil(log2(9))+1 = 5 doublings
    long_nodes = spark.createDataFrame(
        [(f"n{i}",) for i in range(10)], "url_id string"
    )
    long_edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(9)], "src string, dst string"
    )
    lo = {r["url_id"]: (r["final_id"], r["hops"])
          for r in resolve_redirects(long_nodes, long_edges,
                                     max_iters=5).collect()}
    assert lo["n0"] == ("n9", 9) and lo["n9"] == ("n9", 0)


def test_trap_hosts_flags_low_distinct_ratio(spark):
    from pyspark.sql import functions as F

    from yacy_grid_crawler_spark.operators.graph import trap_hosts

    urls = spark.range(300).select(
        F.when(
            F.col("id") < 200,
            F.concat(F.lit("http://trap.net/cal?d="), F.col("id")),
        )
        .when(
            F.col("id") < 280,
            F.concat(F.lit("http://good.net/p"), F.col("id")),
        )
        .otherwise(F.concat(F.lit("http://tiny.net/x?s="), F.col("id")))
        .alias("url")
    )
    out = {r["host"]: r for r in
           trap_hosts(urls, min_urls=100, max_distinct_ratio=0.2).collect()}
    trap = out["trap.net"]
    assert trap["n_urls"] == 200 and trap["n_paths"] == 1
    assert trap["is_trap"] is True
    good = out["good.net"]
    assert good["n_paths"] == 80 and good["is_trap"] is False
    # low ratio but below the min-population gate -> not flagged
    tiny = out["tiny.net"]
    assert tiny["n_paths"] == 1 and tiny["is_trap"] is False


def test_caption_pairs_nearest_preceding_text(spark):
    """Each media span pairs with the LATEST text span strictly before
    it; a media span with no preceding text gets ('', -1); NULL-text
    spans are ignored (the oracle's IGNORE NULLS contract); text-less
    docs emit one sentinel row per media span; input span order is
    irrelevant (doc 1 is scrambled); plan stays JVM-side with no
    shuffle (array-native)."""
    from yacy_grid_crawler_spark.operators.extract import caption_pairs

    docs = spark.createDataFrame(
        [
            (1, [("media", "", "img://1/1", 5), ("text", "beta", "", 2),
                 ("text", "alpha", "", 0), ("media", "", "img://1/0", 3),
                 ("text", "late", "", 9)]),
            (2, [("media", "", "img://2/0", 0), ("text", "gamma", "", 1)]),
            (3, [("media", "", "img://3/0", 4), ("media", "", "img://3/1", 7)]),
            (4, [("text", "no media here", "", 0)]),
            (5, [("text", None, "", 0), ("media", "", "img://5/0", 1),
                 ("text", "real", "", 2), ("media", "", "img://5/1", 3)]),
        ],
        "doc_id long, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = caption_pairs(docs)
    rows = {(r["doc_id"], r["media_ref"]): (r["caption"], r["caption_offset"])
            for r in out.collect()}
    assert rows == {
        (1, "img://1/0"): ("beta", 2),
        (1, "img://1/1"): ("beta", 2),
        (2, "img://2/0"): ("", -1),
        (3, "img://3/0"): ("", -1),
        (3, "img://3/1"): ("", -1),
        (5, "img://5/0"): ("", -1),   # NULL text span ignored
        (5, "img://5/1"): ("real", 2),
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_rfc9309_longest_match_and_ties(spark):
    """Wildcards and $ anchors match; the LONGEST matching pattern
    wins; allow wins a length tie; no match -> allowed ('' / 0);
    metachars in patterns are literal (no regex injection)."""
    from yacy_grid_crawler_spark.operators.robots import rfc9309_verdict

    rules = spark.createDataFrame(
        [
            ("h", False, "/private/"),
            ("h", True, "/private/pub*"),
            ("h", False, "/exact$"),
            ("h", False, "/a*z"),
            ("h", True, "/a*z"),          # tie with the disallow above
            ("h", False, "/dot.path"),    # '.' is literal
        ],
        "host string, allow boolean, pattern string",
    )
    urls = spark.createDataFrame(
        [
            ("h", "/private/secret"),       # only /private/ -> blocked
            ("h", "/private/pub/ok"),       # longer allow wins
            ("h", "/exact"),                # $ anchor -> blocked
            ("h", "/exactly"),              # $ must not match
            ("h", "/abcz"),                 # tie -> allow wins
            ("h", "/dotXpath"),             # '.' literal -> no match
            ("h", "/dot.path"),             # literal match -> blocked
            ("h", "/elsewhere"),            # no rule -> allowed
        ],
        "host string, path string",
    )
    out = {r["path"]: r for r in rfc9309_verdict(urls, rules).collect()}
    assert not out["/private/secret"]["allowed"]
    assert out["/private/pub/ok"]["allowed"]
    assert out["/private/pub/ok"]["winner_pattern"] == "/private/pub*"
    assert not out["/exact"]["allowed"]
    assert out["/exactly"]["allowed"] and out["/exactly"]["winner_len"] == 0
    assert out["/abcz"]["allowed"]            # allow wins the tie
    assert out["/dotXpath"]["allowed"] and out["/dotXpath"]["winner_len"] == 0
    assert not out["/dot.path"]["allowed"]
    assert out["/elsewhere"]["allowed"] and out["/elsewhere"]["winner_pattern"] == ""


def test_sniff_media_type_magic_numbers(spark):
    """Each magic prefix maps to its type; RIFF is discriminated by
    bytes 9-12; ftyp is found at byte 5; unknown bytes fall through to
    octet-stream; short blobs don't error."""
    from yacy_grid_crawler_spark.operators.multimodal import sniff_media_type

    rows = [
        ("png", bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A]) + b"x"),
        ("jpg", bytes([0xFF, 0xD8, 0xFF, 0xE0]) + b"JFIF"),
        ("gif", b"GIF87a pixels"),
        ("webp", b"RIFF\x10\x00\x00\x00WEBPVP8 "),
        ("wav", b"RIFF\x10\x00\x00\x00WAVEfmt "),
        ("riff", b"RIFF\x10\x00\x00\x00AVI LIST"),
        ("mp4", b"\x00\x00\x00\x18ftypisomiso2"),
        ("txt", b"hello world"),
        ("tiny", b"\x89"),
        ("empty", b""),
    ]
    docs = spark.createDataFrame(rows, "media_id string, content binary")
    out = {r["media_id"]: r["sniffed_type"]
           for r in sniff_media_type(docs).collect()}
    assert out == {
        "png": "image/png", "jpg": "image/jpeg", "gif": "image/gif",
        "webp": "image/webp", "wav": "audio/wav",
        "riff": "application/riff", "mp4": "video/mp4",
        "txt": "application/octet-stream",
        "tiny": "application/octet-stream",
        "empty": "application/octet-stream",
    }


def test_strip_tracking_params(spark):
    """Tracking params vanish, surviving params keep their order, an
    all-stripped query loses its '?', empty params are dropped, and
    query-less URLs pass through untouched."""
    from yacy_grid_crawler_spark.operators.filters import (
        strip_tracking_params,
    )

    urls = spark.createDataFrame(
        [
            ("http://a/p?utm_source=x&id=7&utm_campaign=c&ref=r",),
            ("http://a/p?gclid=g1",),
            ("http://a/p?fbclid=f&msclkid=m&mc_eid=e&utm_x=1",),
            ("http://a/p?a=1&&b=2&",),
            ("http://a/p",),
            ("http://a/p?",),
            ("http://a/p?utmx=keepme",),   # not utm_ prefixed family
        ],
        "url string",
    )
    out = {r["url"]: (r["cleaned_url"], r["n_stripped"])
           for r in strip_tracking_params(urls).collect()}
    assert out["http://a/p?utm_source=x&id=7&utm_campaign=c&ref=r"] == (
        "http://a/p?id=7&ref=r", 2)
    assert out["http://a/p?gclid=g1"] == ("http://a/p", 1)
    assert out["http://a/p?fbclid=f&msclkid=m&mc_eid=e&utm_x=1"] == (
        "http://a/p", 4)
    assert out["http://a/p?a=1&&b=2&"] == ("http://a/p?a=1&b=2", 0)
    assert out["http://a/p"] == ("http://a/p", 0)
    assert out["http://a/p?"] == ("http://a/p", 0)
    assert out["http://a/p?utmx=keepme"] == ("http://a/p?utmx=keepme", 0)


def test_dedup_media_blobs_keeper_and_refcounts(spark):
    from yacy_grid_crawler_spark.operators.multimodal import dedup_media_blobs

    media = spark.createDataFrame(
        [
            ("m1", bytearray(b"AAA")),
            ("m2", bytearray(b"AAA")),
            ("m3", bytearray(b"BBB")),
        ],
        "media_id string, content binary",
    )
    rows = {r["media_id"]: r for r in dedup_media_blobs(media).collect()}
    assert rows["m1"]["n_refs"] == 2 and rows["m2"]["n_refs"] == 2
    assert rows["m1"]["keeper_id"] == "m1" == rows["m2"]["keeper_id"]
    assert rows["m1"]["is_keeper"] and not rows["m2"]["is_keeper"]
    assert rows["m3"]["is_keeper"] and rows["m3"]["n_refs"] == 1
    assert rows["m1"]["n_bytes"] == 3
    # the blob itself never reaches the exchange: the shuffle input
    # projects to (media_id, md5, length) first
    plan = (
        dedup_media_blobs(media)._jdf.queryExecution().executedPlan().toString()
    )
    exchange_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchange_lines and all("content" not in ln for ln in exchange_lines)


def test_span_mix_composition_profile(spark):
    """Hand-built interleaved docs: text-only, media-lead, and
    media-free spans arrays produce the exact composition columns."""
    from yacy_grid_crawler_spark.operators.extract import span_mix

    schema = (
        "doc_id long, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    rows = [
        (1, [("text", "abcd", "", 0), ("media", "", "img://1/0", 1),
             ("text", "ef", "", 2)]),
        (2, [("media", "", "img://2/0", 0), ("text", "xyz", "", 1)]),
        (3, [("text", "hello", "", 0)]),
        (4, []),
    ]
    out = {r["doc_id"]: r for r in
           span_mix(spark.createDataFrame(rows, schema)).collect()}
    assert (out[1]["n_spans"], out[1]["n_text"], out[1]["n_media"]) == (3, 2, 1)
    assert out[1]["media_bp"] == 3333 and out[1]["first_media_offset"] == 1
    assert out[1]["text_chars"] == 6
    assert out[2]["first_media_offset"] == 0 and out[2]["media_bp"] == 5000
    assert out[3]["n_media"] == 0 and out[3]["first_media_offset"] == -1
    assert out[4]["n_spans"] == 0 and out[4]["media_bp"] == 0
    assert out[4]["text_chars"] == 0 and out[4]["first_media_offset"] == -1


def test_frontier_host_lag_drain_forecast(spark):
    """3 URLs at 500 ms delay → drain 1000 ms (starved at horizon
    800); single-URL host drains instantly; missing delay falls back
    to the default."""
    from yacy_grid_crawler_spark.operators.batching import frontier_host_lag

    fr = spark.createDataFrame(
        [("c0", "a.com")] * 3 + [("c0", "b.com")] + [("c0", "c.com")] * 2,
        "crawl_id string, host string",
    )
    robots = spark.createDataFrame(
        [("a.com", 500), ("b.com", 500)], "host string, crawl_delay_ms int"
    )
    out = {r["host"]: r for r in frontier_host_lag(
        fr, robots=robots, default_delay_ms=100, horizon_ms=800
    ).collect()}
    assert out["a.com"]["n_queued"] == 3 and out["a.com"]["drain_ms"] == 1000
    assert out["a.com"]["starved"] is True
    assert out["b.com"]["drain_ms"] == 0 and out["b.com"]["starved"] is False
    assert out["c.com"]["crawl_delay_ms"] == 100
    assert out["c.com"]["drain_ms"] == 100 and out["c.com"]["starved"] is False


def test_canonical_links_collapse_and_self_fallback(spark):
    """Variants declaring a canonical collapse onto it; a page with no
    (or empty) declaration is self-canonical; keeper = min url per
    group."""
    from yacy_grid_crawler_spark.operators.extract import canonical_links

    rows = [
        ("http://a/1", '<link rel="canonical" href="http://a/0"/>'),
        ("http://a/2", '<LINK REL="canonical" HREF="http://a/0">'),
        ("http://a/0", "<html>no declaration</html>"),
        ("http://b/x", '<link rel="canonical" href=""/>'),
    ]
    out = {r["url"]: r for r in canonical_links(
        spark.createDataFrame(rows, "url string, html string")
    ).collect()}
    assert out["http://a/1"]["canonical_url"] == "http://a/0"
    assert out["http://a/2"]["canonical_url"] == "http://a/0"  # case-insens
    assert out["http://a/0"]["is_self"] and out["http://a/0"]["keep"]
    assert not out["http://a/1"]["keep"] and not out["http://a/2"]["keep"]
    assert out["http://b/x"]["is_self"] and out["http://b/x"]["keep"]


def test_soft404_hosts_modal_body_share(spark):
    """A host serving one template body for every URL flags; a host
    with distinct bodies does not; min_pages gates small hosts."""
    from yacy_grid_crawler_spark.operators.graph import soft404_hosts

    rows = (
        [("parked.com", "domain for sale")] * 4
        + [("real.com", f"article {i}") for i in range(4)]
        + [("tiny.com", "x"), ("tiny.com", "x")]
    )
    out = {r["host"]: r for r in soft404_hosts(
        spark.createDataFrame(rows, "host string, text string"),
        min_pages=3,
    ).collect()}
    assert out["parked.com"]["modal_share_bp"] == 10000
    assert out["parked.com"]["is_soft404"]
    assert out["real.com"]["modal_share_bp"] == 2500
    assert not out["real.com"]["is_soft404"]
    assert not out["tiny.com"]["is_soft404"]  # below min_pages


def test_meta_robots_directive_parsing(spark):
    """noindex/nofollow/none/noarchive parse token-wise (substring
    'noindexing' must NOT trip it); absent tag → fully allowed."""
    from yacy_grid_crawler_spark.operators.extract import meta_robots

    rows = [
        ("u1", '<meta name="robots" content="noindex,nofollow">'),
        ("u2", '<META NAME="robots" CONTENT="NONE">'),
        ("u3", '<meta name="robots" content="noarchive, follow">'),
        ("u4", '<meta name="robots" content="noindexing">'),
        ("u5", "<html>no tag</html>"),
    ]
    out = {r["url"]: r for r in meta_robots(
        spark.createDataFrame(rows, "url string, html string")
    ).collect()}
    assert out["u1"]["noindex"] and out["u1"]["nofollow"]
    assert not out["u1"]["do_index"] and not out["u1"]["expand_links"]
    assert out["u2"]["noindex"] and out["u2"]["nofollow"]  # none = both
    assert out["u3"]["noarchive"] and out["u3"]["do_index"]
    assert not out["u4"]["noindex"]  # token boundary respected
    assert out["u5"]["do_index"] and out["u5"]["expand_links"]


def test_html_links_nofollow_and_order(spark):
    """Anchors extract in document order with per-link nofollow; no
    href or empty href rows are dropped."""
    from yacy_grid_crawler_spark.operators.extract import html_links

    rows = [
        ("u1", '<a href="http://a/1">x</a>'
               '<a rel="me nofollow" href="http://a/2">y</a>'
               '<a href="">empty</a><a name="anchor-only">z</a>'),
        ("u2", "<p>no links</p>"),
    ]
    out = html_links(
        spark.createDataFrame(rows, "url string, html string")
    ).collect()
    got = sorted((r["url"], r["link_ord"], r["href"], r["nofollow"])
                 for r in out)
    assert got == [
        ("u1", 0, "http://a/1", False),
        ("u1", 1, "http://a/2", True),
    ]


def test_link_farm_hosts_reciprocal_share(spark):
    from yacy_grid_crawler_spark.operators.graph import (
        host_link_graph, link_farm_hosts,
    )

    # farm.a <-> farm.b trade links (reciprocal); cite.c links out to
    # both farms but nobody links back to it; farm.a also links to
    # cite.c (not reciprocated). Internal self-links must be ignored.
    edges = [
        ("http://farm.a/1", "http://farm.b/x"),
        ("http://farm.a/2", "http://farm.b/y"),
        ("http://farm.b/1", "http://farm.a/x"),
        ("http://farm.a/3", "http://cite.c/x"),
        ("http://cite.c/1", "http://farm.a/z"),
        ("http://cite.c/2", "http://farm.b/z"),
        ("http://cite.c/3", "http://cite.c/self"),  # internal
    ]
    links = spark.createDataFrame(edges, ["src_url", "dst_url"])
    out = {
        r["host"]: r
        for r in link_farm_hosts(
            host_link_graph(links),
            min_partners=2,
            recip_ppm_threshold=500_000,
        ).collect()
    }
    a = out["farm.a"]
    # partners: farm.b (2 links, reciprocal), cite.c (1 link,
    # reciprocal since cite.c -> farm.a exists)
    assert a["out_links"] == 3 and a["n_partners"] == 2
    assert a["recip_partners"] == 2
    assert a["recip_share_ppm"] == 1_000_000
    assert a["top_share_ppm"] == 666_666
    assert a["is_link_farm"] is True
    b = out["farm.b"]
    assert b["n_partners"] == 1 and b["recip_partners"] == 1
    assert b["is_link_farm"] is False  # below min_partners
    c = out["cite.c"]  # internal self-link excluded everywhere
    assert c["out_links"] == 2 and c["n_partners"] == 2
    assert c["recip_partners"] == 1 and c["recip_share_ppm"] == 500_000
    assert c["is_link_farm"] is True  # exactly at threshold
    # sanity: flipping the threshold above 1/2 unflags cite.c
    strict = {
        r["host"]: r
        for r in link_farm_hosts(
            host_link_graph(links),
            min_partners=2,
            recip_ppm_threshold=600_000,
        ).collect()
    }
    assert strict["cite.c"]["is_link_farm"] is False
    assert strict["farm.a"]["is_link_farm"] is True


def test_known_item_eval_ranks_and_misses(spark):
    from yacy_grid_crawler_spark.operators.textstats import (
        known_item_eval,
    )

    docs = spark.createDataFrame(
        [
            (1, "zebra quokka umbrella"),      # unique terms -> rank 1
            (2, "common common common words"),  # shared with doc 3
            (3, "common words everywhere here"),
            (4, "unrelated filler text body"),
        ],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame(
        [
            (1, "zebra quokka"),     # self-retrieves at rank 1
            (2, "common words"),
            (4, "absent tokens"),    # no posting matches -> miss
        ],
        ["query_id", "qtext"],
    )
    out = {r["query_id"]: r
           for r in known_item_eval(docs, queries, k=10).collect()}
    assert len(out) == 3  # misses kept as rows
    assert out[1]["found_rank"] == 1 and out[1]["hit1"] == 1
    assert out[1]["hit5"] == 1 and out[1]["hit10"] == 1
    assert out[2]["found_rank"] in (1, 2) and out[2]["hit5"] == 1
    assert out[4]["found_rank"] is None
    assert (out[4]["hit1"], out[4]["hit5"], out[4]["hit10"]) == (0, 0, 0)


def test_host_skew_uniform_vs_zipf(spark):
    from pyspark.sql import functions as F

    from yacy_grid_crawler_spark.operators.graph import host_skew

    # uniform: 100 URLs over 10 hosts -> hhi = 10 * (0.1)^2 = 0.01
    uniform = spark.range(100).select(
        F.concat(
            F.lit("http://u"), (F.col("id") % 10), F.lit(".net/p"),
            F.col("id"),
        ).alias("url")
    )
    u = host_skew(uniform).collect()[0]
    assert (u["n_urls"], u["n_hosts"]) == (100, 10)
    assert u["top_share_ppm"] == 100_000
    assert u["hhi_ppm"] == 100_000
    # zipf head: 91 URLs on one host, 9 singletons
    zipf = spark.range(100).select(
        F.when(F.col("id") < 91, F.lit("http://head.net/p"))
        .otherwise(F.concat(F.lit("http://t"), F.col("id"), F.lit(".net/p")))
        .alias("_b")
    ).select(F.concat("_b", F.lit("x")).alias("url"))
    z = host_skew(zipf).collect()[0]
    assert (z["n_urls"], z["n_hosts"]) == (100, 10)
    assert z["top_share_ppm"] == 910_000
    assert z["hhi_ppm"] == (91 * 91 + 9) * 1_000_000 // 10_000


def test_cli_bucketed_seen_flag(spark, corpus, docs_df, tmp_path, capsys):
    """--bucketed-seen drives a full crawl through the CLI and the
    final seen set matches a plain-layout CLI run of the same seed."""
    import json as _json

    from yacy_grid_crawler_spark.__main__ import main

    docs_path = str(tmp_path / "docs.parquet")
    docs_df.write.parquet(docs_path)
    seen_sets = {}
    for flag in (["--bucketed-seen", "off"], ["--bucketed-seen", "on"]):
        store = str(tmp_path / f"store_{flag[1]}")
        rc = main(
            ["--docs", docs_path, "--store", store,
             "--crawling-url", corpus.seeds[0],
             "--crawling-depth", "2", "--cores", "8"] + flag
        )
        assert rc == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["success"]
        from yacy_grid_crawler_spark.sources.statestore import StateStore

        seen_sets[flag[1]] = frozenset(
            r["url_id"]
            for r in StateStore(spark, store).read("url_seen").collect()
        )
    assert seen_sets["off"] == seen_sets["on"]


def test_rendezvous_shard_minimal_movement(spark):
    from pyspark.sql import functions as F

    from yacy_grid_crawler_spark.operators.batching import (
        rendezvous_shard,
    )

    hosts = spark.range(2000).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example.org")).alias(
            "host"
        )
    )
    full = ["f0", "f1", "f2", "f3", "f4"]
    a = {r["host"]: r["shard"]
         for r in rendezvous_shard(hosts, "host", full).collect()}
    # deterministic + all shards used
    assert set(a.values()) == set(full)
    b = {r["host"]: r["shard"]
         for r in rendezvous_shard(hosts, "host", full).collect()}
    assert a == b
    # remove one shard: ONLY its hosts move, each to its runner-up
    survivors = [s for s in full if s != "f2"]
    c = {r["host"]: r["shard"]
         for r in rendezvous_shard(hosts, "host", survivors).collect()}
    moved = {h for h in a if a[h] != c[h]}
    assert moved == {h for h in a if a[h] == "f2"}
    # balance sanity: ~1/5 per shard, no shard starved or doubled
    from collections import Counter

    counts = Counter(a.values())
    assert max(counts.values()) < 2.0 * min(counts.values())


def test_param_relevance_verdicts(spark):
    """session never changes content -> irrelevant; color changes it
    on h1 -> relevant; a never-varying param -> unknown; URLs without
    a query string contribute nothing."""
    from pyspark.sql import functions as F

    from yacy_grid_crawler_spark.operators.graph import param_relevance

    rows = []
    for i in range(60):
        host = f"h{i % 2}.shop"
        path = f"/p/{i % 5}"
        sess, color = f"s{i % 4}", f"c{i % 3}"
        url = f"http://{host}{path}?session={sess}&color={color}&v=1"
        content = path + (color if host == "h1.shop" else "")
        rows.append((url, content))
    rows.append(("http://h0.shop/plain", "noqs"))  # no query string
    df = spark.createDataFrame(rows, "url string, content_id string")
    got = {
        (r["host"], r["param"]): r["verdict"]
        for r in param_relevance(df).collect()
    }
    assert got[("h0.shop", "session")] == "irrelevant"
    assert got[("h1.shop", "session")] == "irrelevant"
    assert got[("h0.shop", "color")] == "irrelevant"
    assert got[("h1.shop", "color")] == "relevant"
    assert got[("h0.shop", "v")] == "unknown"
    assert got[("h1.shop", "v")] == "unknown"
    assert len(got) == 6


def test_param_relevance_duplicate_pairs_collapse(spark):
    """Duplicate IDENTICAL k=v pairs collapse before analysis (advice
    item): a URL repeating a=1 twice groups with its single-copy twin
    instead of mapping to a base missing both copies."""
    from yacy_grid_crawler_spark.operators.graph import param_relevance

    rows = [
        # same page, session varies, content fixed -> irrelevant...
        ("http://h.shop/p?session=s1&session=s1&color=c1", "pc1"),
        ("http://h.shop/p?session=s2&color=c1", "pc1"),
        # ...and the duplicated row must land in the SAME evidence
        # group as the single-copy row (collapse makes bases equal)
    ]
    df = spark.createDataFrame(rows, "url string, content_id string")
    got = {
        (r["host"], r["param"]): (r["verdict"], r["evidence_groups"])
        for r in param_relevance(df).collect()
    }
    assert got[("h.shop", "session")] == ("irrelevant", 1)
    assert got[("h.shop", "color")][0] == "unknown"


def test_cli_list_queries_and_analyze_args(capsys):
    """--list-queries prints the registry; --analyze validates its
    inputs before touching Spark."""
    import json as _json

    from yacy_grid_crawler_spark.__main__ import main

    assert main(["--list-queries"]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert "bpe_merges" in out["queries"] and len(out["queries"]) >= 170
    assert main(["--analyze", "no_such_query", "--sf-dir", "/tmp"]) == 2
    assert main(["--analyze", "bpe_merges"]) == 2  # missing --sf-dir


def test_robots_delta_dedups_repeated_urls(spark):
    """A URL repeated in the input must yield exactly ONE action row
    (review finding: without the dedup the two-verdict join squares
    the duplicates)."""
    from yacy_grid_crawler_spark.operators.robots import robots_delta

    urls = spark.createDataFrame(
        [("h.org", "/x")] * 3, "host string, path string"
    )
    ra = spark.createDataFrame(
        [("h.org", True, "/x")], "host string, allow boolean, pattern string"
    )
    rb = spark.createDataFrame(
        [("h.org", False, "/x")], "host string, allow boolean, pattern string"
    )
    rows = robots_delta(urls, ra, rb).collect()
    assert len(rows) == 1
    assert rows[0]["action"] == "delete"


def test_cli_crawl_uses_real_wall_clock(spark, corpus, docs_df, tmp_path, capsys):
    """Round-3 verdict ask #8: the CLI passes a real clock, so
    production lineage docnames and politeness not_before stamps carry
    wall-clock epochs — while the LIBRARY default stays deterministic
    (epoch 0) for the oracle surfaces."""
    import time as _time

    from pyspark.sql import functions as F

    from yacy_grid_crawler_spark.__main__ import main
    from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob

    docs_path = str(tmp_path / "docs_clock.parquet")
    docs_df.write.parquet(docs_path)
    store = str(tmp_path / "store_clock")
    t0_ms = int(_time.time() * 1000)
    rc = main(
        [
            "--docs", docs_path,
            "--store", store,
            "--crawling-url", corpus.seeds[0],
            "--crawling-depth", "1",
            "--cores", "8",
        ]
    )
    capsys.readouterr()
    assert rc == 0
    job = CrawlJob(spark, store, docs_df)
    fr = job.store.read("frontier")
    # politeness stamps ride the wave clock: all >= test start
    assert fr.filter(F.col("not_before_ms") < t0_ms).count() == 0
    # lineage docnames embed the loader timestamp — non-epoch
    assert fr.filter(F.col("lineage").contains("1970")).count() == 0

    # library default (no clock): deterministic epoch-0 lineage
    job2 = CrawlJob(spark, str(tmp_path / "store_det"), docs_df, n_shards=8)
    cids = job2.start(corpus.seeds[0], {"crawlingDepth": 1})
    job2.run(cids)
    fr2 = job2.store.read("frontier")
    assert fr2.filter(~F.col("lineage").contains("1970")).count() == 0

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from yacy_grid_crawler_spark.session import get_spark

    # get_spark's 48 GB default heap is sized for a big driver box; on a
    # small one the JVM grows towards it instead of collecting garbage
    # until the kernel's OOM killer ends the run. The suite's live data
    # is small, so the heap is capped (SPARK_DRIVER_MEM still overrides).
    os.environ.setdefault("SPARK_DRIVER_MEM", "6g")
    s = get_spark(app="tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus():
    from yacy_grid_crawler_spark.fixtures.gen import generate

    return generate(seed=42, n_docs=300, n_hosts=12)


# The crawl inputs are JVM LocalRelations (`session.local_frame`), as a
# crawl's inputs are JVM-side in production (parquet scans): a frame
# from `createDataFrame(list)` is a pickled Python RDD, and every wave
# that joins it would start Python tasks to unpickle it again.


@pytest.fixture(scope="session")
def docs_df(spark, corpus):
    from pyspark.sql import types as T

    from yacy_grid_crawler_spark.session import local_frame

    schema = T.StructType(
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
    rows = [
        (d["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
        for d in corpus.docs
    ]
    return local_frame(spark, rows, schema)


@pytest.fixture(scope="session")
def robots_df(spark, corpus):
    from yacy_grid_crawler_spark.session import local_frame

    rows = [
        (h, r["disallow"], r["delay_ms"]) for h, r in corpus.robots.items()
    ]
    return local_frame(
        spark, rows, "host string, disallow_prefixes array<string>, crawl_delay_ms int"
    )


# (store, snapshot versions, data files) of the built reference crawl
_REFERENCE_STATE: list[tuple] = []


def _store_state(store) -> tuple:
    files = sorted(
        os.path.relpath(os.path.join(d, f), store.root)
        for d, _dirs, fs in os.walk(store.root)
        for f in fs
    )
    return store.versions(), files


@pytest.fixture(scope="session")
def reference_crawl(spark, corpus, docs_df, robots_df, tmp_path_factory):
    """The reference crawl several modules compare against: the first
    seed to depth 2 with the corpus blacklist and robots, n_shards=8,
    every other CrawlJob setting at its default, run to its end with
    `run()`. Returns (job, crawl_id). Tests only read its store:
    `_reference_crawl_unchanged` fails any test that commits to it or
    adds or removes a file in it."""
    from yacy_grid_crawler_spark.fixtures.gen import blacklist_lines
    from yacy_grid_crawler_spark.operators.blacklist import parse_lines
    from yacy_grid_crawler_spark.plans.crawl_job import CrawlJob

    job = CrawlJob(
        spark, str(tmp_path_factory.mktemp("reference_crawl")), docs_df,
        blacklist=parse_lines(blacklist_lines(corpus)), robots=robots_df,
        n_shards=8,
    )
    (cid,) = job.start(corpus.seeds[0], {"crawlingDepth": 2})
    job.run([cid])
    _REFERENCE_STATE.append((job.store, _store_state(job.store)))
    return job, cid


@pytest.fixture(autouse=True)
def _reference_crawl_unchanged():
    """The shared reference crawl is compared against by several
    modules, so a test that changed its store would change their
    reference silently and make results depend on test order."""
    yield
    for store, state in _REFERENCE_STATE:
        assert _store_state(store) == state, "test changed the reference crawl's store"

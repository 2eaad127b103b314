"""Snapshot-committed state tables: frontier, crawl_status, url_seen,
crawl_starts, crawl_metrics (FIXTURES.md §6).

The reference persists state in Elasticsearch indexes + RabbitMQ
queues (SURVEY.md §1.4-1.5). The Spark-native replacement is a set of
table-format tables with ATOMIC multi-table commits: one commit per
crawl wave = the resumable checkpoint (north rule: "checkpoints
frontier + seen-set state to Iceberg snapshots for exact resume").

In production this is Iceberg (`df.writeTo(...).append()` +
multi-table transactions via the REST catalog). The Iceberg runtime
jars are not in this image, so this module implements the same
snapshot semantics over parquet directly:

    {root}/{table}/commit={n}/{attempt}/part-*.parquet   data files
    {root}/_snapshots/v{n:06d}.json                      manifest
    {root}/_filters/{crawl}-v{n:06d}-{attempt}.bloom     seen filters

A manifest lists, per table, the commit versions that make up the
table at that version, the write attempt that published each version
(`attempts`), plus arbitrary checkpoint metadata. Every `begin()` is
its own attempt with its own data dirs, so a retry after a crash
mid-commit, or a second writer of the same version, never collides
with the first attempt's files. Data dirs are inert until a manifest
references them, so a crash mid-commit leaves only ignorable orphans —
same recovery contract as Iceberg. The manifest is published with an
exclusive create: of two writers that began from the same base, the
second `finalize()` raises `CommitConflict` instead of replacing the
first one's snapshot. Readers scan only the
data dirs the manifest names, so unpublished attempts are never
listed. Reads apply the declared SCHEMAS
instead of inferring the schema from parquet footers (no Spark job per
read); every append/replace is checked against the same SCHEMAS.

At-least-once + FAIL_IRREVERSIBLE acks (CrawlerListener.java:203-447)
become exactly-once: re-running a wave after a crash re-reads the last
manifest and recomputes from there (SURVEY.md §4 last row).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import SEEN_TTL_DAYS

S = T.StructType
f = T.StructField


def _safe_name(s: str) -> str:
    """Filesystem-safe filter-file stem for a crawl id."""
    return "".join(c if c.isalnum() or c in "-._" else "_" for c in s)


class CommitConflict(RuntimeError):
    """Another writer published the snapshot version this commit was
    staged for."""


SCHEMAS: dict[str, T.StructType] = {
    "frontier": S(
        [
            f("crawl_id", T.StringType()),
            f("url", T.StringType()),
            f("url_id", T.StringType()),
            f("depth", T.IntegerType()),
            f("lane", T.StringType()),
            f("do_index", T.BooleanType()),
            f("batch_no", T.LongType()),
            f("batch_pos", T.IntegerType()),
            f("host", T.StringType()),
            f("shard", T.IntegerType()),
            f("salt", T.IntegerType()),
            f("fetch_slot", T.IntegerType()),
            f("not_before_ms", T.LongType()),
            f("lineage", T.StringType()),
        ]
    ),
    "crawl_status": S(
        [
            f("crawl_id", T.StringType()),
            f("user_id", T.StringType()),
            f("url_id", T.StringType()),
            f("url", T.StringType()),
            f("status", T.StringType()),
            f("comment_class", T.StringType()),
            f("depth", T.IntegerType()),
            f("start_url", T.StringType()),
            f("start_ssld", T.StringType()),
            # collection NAMES from the profile's parsed collection
            # map (keySet() like CrawlerListener.java:322; patterns
            # are matched downstream, operators.filters)
            f("collections", T.ArrayType(T.StringType())),
        ]
    ),
    "url_seen": S(
        [
            f("crawl_id", T.StringType()),
            f("url_id", T.StringType()),
            f("first_depth", T.IntegerType()),
            # wave-start clock sample of the wave that first saw the
            # URL — drives the 7-day double-cache TTL sweep
            # (CrawlerListener.java:84-85) in CrawlJob.maintain()
            f("seen_at_ms", T.LongType()),
        ]
    ),
    "crawl_starts": S(
        [
            f("crawl_id", T.StringType()),
            f("user_id", T.StringType()),
            f("mustmatch", T.StringType()),
            f("collection", T.StringType()),
            f("start_url", T.StringType()),
            f("start_ssld", T.StringType()),
            f("profile_json", T.StringType()),
        ]
    ),
    # log-structured per-host politeness slot counters: one row per
    # (wave x host) APPEND; the current base = sum(n) on read (cheap
    # aggregate; avoids rewriting an all-hosts table every wave)
    "host_slots": S(
        [
            f("crawl_id", T.StringType()),
            f("host", T.StringType()),
            f("n", T.LongType()),
        ]
    ),
    "crawl_metrics": S(
        [
            f("crawl_id", T.StringType()),
            f("depth", T.IntegerType()),
            f("extracted", T.LongType()),
            f("parsed_ok", T.LongType()),
            f("deduped_session", T.LongType()),
            f("deduped_persistent", T.LongType()),
            f("rejected_filter", T.LongType()),
            f("rejected_blacklist", T.LongType()),
            f("rejected_robots", T.LongType()),
            f("accepted", T.LongType()),
            f("do_index", T.LongType()),
        ]
    ),
}


def _check_schema(table: str, df: DataFrame) -> None:
    """Raise unless `df`'s columns are exactly SCHEMAS[table]'s names
    and types (nullability aside) — a driver-side analysis check, no
    Spark job. Reads apply SCHEMAS instead of inferring it from the
    files, so a drifting writer must fail at its own commit, not at
    some later read."""
    want = {fl.name: fl.dataType.simpleString() for fl in SCHEMAS[table]}
    got = {fl.name: fl.dataType.simpleString() for fl in df.schema}
    for name in sorted(want.keys() | got.keys()):
        if want.get(name) != got.get(name):
            raise ValueError(
                f"state table {table!r}, column {name!r}: frame has "
                f"{got.get(name) or 'no such column'}, schema declares "
                f"{want.get(name) or 'no such column'}"
            )


class StateStore:
    def __init__(self, spark: SparkSession, root: str, write_partitions: int = 32):
        """`write_partitions` bounds output files per commit: local runs
        want few fat files (task overhead dominates); a cluster run
        writing 10^8-row waves raises it (or pre-partitions by `shard`
        so writers align with the crawl sharding)."""
        self.spark = spark
        self.root = root
        self.write_partitions = write_partitions
        os.makedirs(os.path.join(root, "_snapshots"), exist_ok=True)

    # ---- snapshot bookkeeping -------------------------------------
    def _snapdir(self) -> str:
        return os.path.join(self.root, "_snapshots")

    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(self._snapdir()):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def current_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else 0

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v == 0:
            return {"version": 0, "tables": {}, "attempts": {}, "meta": {}}
        with open(os.path.join(self._snapdir(), f"v{v:06d}.json")) as fh:
            return json.load(fh)

    # ---- read ------------------------------------------------------
    def read(self, table: str, version: int | None = None) -> DataFrame:
        man = self.manifest(version)
        return self._read_commits(table, man["tables"].get(table, []), man["attempts"])

    def _commit_dir(self, table: str, commit: int, attempts: dict) -> str:
        """Data dir of `table` at `commit`: the publishing attempt's
        own dir."""
        return os.path.join(
            self.root, table, f"commit={commit}", attempts[str(commit)]
        )

    def _read_commits(
        self, table: str, commits: list[int], attempts: dict
    ) -> DataFrame:
        """Schema-on-read scan of `table`'s commit dirs: the declared
        SCHEMAS entry replaces parquet footer inference, so building
        the DataFrame starts no Spark job (PendingCommit guards every
        write against the same schema)."""
        if not commits:
            return self.spark.createDataFrame([], SCHEMAS[table])
        # partition discovery on commit=N (attempt dirs carry no '=')
        df = (
            self.spark.read.schema(SCHEMAS[table])
            .option("basePath", os.path.join(self.root, table))
            .parquet(*[self._commit_dir(table, c, attempts) for c in commits])
        )
        return df.drop("commit")

    def table_bytes(self, table: str, version: int | None = None) -> int:
        """On-disk parquet bytes of `table` in the given (default
        current) snapshot — a free (OS-stat, no Spark job) size signal.
        CrawlJob uses it to auto-enable the bucketed seen mirror once
        url_seen outgrows the threshold where the per-wave seen-side
        shuffle starts to dominate (sources/bucketed.py). On Iceberg
        the same number comes from the snapshot's manifest
        `total-files-size` summary."""
        man = self.manifest(version)
        total = 0
        for c in man["tables"].get(table, []):
            cdir = self._commit_dir(table, c, man["attempts"])
            for dirpath, _dirs, files in os.walk(cdir):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(dirpath, f))
                    except OSError:
                        continue
        return total

    def register_views(self, prefix: str = "") -> list[str]:
        """Register every state table as a Spark temp view so the
        store is queryable with plain `spark.sql` — the Spark-idiomatic
        analog of the reference's Elasticsearch query surface
        (`spark.sql("SELECT status, count(*) FROM crawl_status GROUP
        BY status")` after `store.register_views()`). Views read the
        CURRENT snapshot lazily at registration time; re-register
        after commits to pick up a newer version. Returns the view
        names."""
        names = []
        for table in SCHEMAS:
            name = f"{prefix}{table}"
            self.read(table).createOrReplaceTempView(name)
            names.append(name)
        return names

    # ---- write -----------------------------------------------------
    def begin(self) -> "PendingCommit":
        """Staged variant of `commit` for callers that need to interleave
        writes with driver-side logic (e.g. reading `observe()` counters
        after the first sink write to build the metrics append). Data
        dirs written through the pending commit stay inert until
        `finalize()` publishes the manifest — same atomicity as
        `commit`."""
        prev = self.manifest()
        return PendingCommit(self, prev, prev["version"] + 1)

    def commit(
        self,
        appends: dict[str, DataFrame] | None = None,
        replaces: dict[str, DataFrame] | None = None,
        meta: dict | None = None,
    ) -> int:
        """One atomic multi-table commit. `appends[t]` adds rows to t;
        `replaces[t]` rewrites t wholesale (S8 delete-at-crawl-start,
        CrawlStartService.java:141-173, is a filtered replace)."""
        pc = self.begin()
        for t, df in (appends or {}).items():
            pc.append(t, df)
        for t, df in (replaces or {}).items():
            pc.replace(t, df)
        return pc.finalize(meta)

    # ---- checkpointed seen filters --------------------------------
    # North star: "per-partition bloom/cuckoo filters ... checkpointed
    # ... to Iceberg snapshots". The filter file is written BEFORE the
    # manifest that references it (same crash-atomicity as data dirs:
    # an unreferenced filter file is inert debris), and the manifest
    # meta carries {crawl_id: {file, n, capacity}} under
    # "seen_filters". Next wave loads + probes instead of re-scanning
    # the whole seen table to rebuild (O(delta) per wave, not O(seen)).
    def _filterdir(self) -> str:
        d = os.path.join(self.root, "_filters")
        os.makedirs(d, exist_ok=True)
        return d

    def write_seen_filter(
        self, crawl_id: str, bloom, n: int, capacity: int, pc: "PendingCommit"
    ) -> dict:
        """Persist `bloom` for `crawl_id` as part of the pending commit
        `pc`; returns the manifest meta entry the caller must place
        under meta['seen_filters']. The file is named after `pc`'s
        attempt and created exclusively, so a writer that loses the
        race for a version never touches the winner's filter."""
        from ..functions.bloom import to_bytes

        fname = f"{_safe_name(crawl_id)}-v{pc.version:06d}-{pc.attempt}.bloom"
        with open(os.path.join(self._filterdir(), fname), "xb") as fh:
            fh.write(to_bytes(bloom))
        return {"file": fname, "n": int(n), "capacity": int(capacity)}

    def load_seen_filter(self, crawl_id: str):
        """(UrlBloom, meta_entry) for the current manifest, or None."""
        from ..functions.bloom import from_bytes

        entry = (
            self.manifest().get("meta", {}).get("seen_filters", {}).get(crawl_id)
        )
        if not entry:
            return None
        path = os.path.join(self._filterdir(), entry["file"])
        if not os.path.exists(path):
            return None
        with open(path, "rb") as fh:
            return from_bytes(fh.read()), entry

    def compact(self, table: str, aggregate=None) -> int:
        """Maintenance: rewrite a table's accumulated commit-dirs into
        ONE commit (the snapshot-table analogue of Iceberg's
        rewrite_data_files). Log-structured tables (host_slots,
        crawl_metrics, url_seen) grow one dir per wave; read cost is
        proportional to commit count until compacted. `aggregate`
        optionally folds rows while rewriting (e.g. host_slots sums
        its per-wave counts). Readers are unaffected mid-compaction —
        the new manifest appears atomically at finalize."""
        df = self.read(table)
        if aggregate is not None:
            df = aggregate(df)
        pc = self.begin()
        pc.replace(table, df)
        return pc.finalize(meta=self.manifest().get("meta", {}))

    def snapshot_diff(
        self, table: str, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Incremental changelog between two snapshots (Iceberg's
        incremental scan): table rows with a `change` column,
        'added' for rows in commits v_to references but v_from does
        not, 'removed' for the reverse. Only CHANGED commit dirs are
        ever scanned — diffing wave 10,000 against 10,001 reads one
        wave's parquet, never the accumulated table, which is what
        makes per-wave downstream syncs O(delta) at any history size.

        The diff is physical (commit-level): `compact` rewrites
        commits, so across a compaction logically-unchanged rows
        report as removed+added — the same contract Iceberg's
        changelog has across rewrite_data_files."""
        man_a, man_b = self.manifest(v_from), self.manifest(v_to)
        a = set(man_a["tables"].get(table, []))
        b = set(man_b["tables"].get(table, []))
        # a published version's attempt never changes: one map serves both
        attempts = {**man_a["attempts"], **man_b["attempts"]}

        added = self._read_commits(table, sorted(b - a), attempts).withColumn(
            "change", F.lit("added")
        )
        removed = self._read_commits(table, sorted(a - b), attempts).withColumn(
            "change", F.lit("removed")
        )
        return added.unionByName(removed)

    def expire_snapshots(self, keep_last: int = 2) -> list[int]:
        """Maintenance: drop manifests older than the newest
        `keep_last` (Iceberg's expire_snapshots). After expiry,
        `rollback_orphans` reclaims data dirs no surviving manifest
        references — this is what makes `compact` actually free disk.
        Returns the expired version numbers. Resume always targets the
        newest manifest, so keep_last>=1 is REQUIRED for correctness —
        keep_last<1 would delete every manifest (the store then reads
        as empty and rollback_orphans would reclaim all data dirs), so
        it raises instead of silently destroying the store."""
        if keep_last < 1:
            raise ValueError(
                f"expire_snapshots(keep_last={keep_last}): keep_last must "
                "be >= 1 — expiring every manifest would empty the store"
            )
        vs = self.versions()
        expired = vs[:-keep_last]
        for v in expired:
            os.remove(os.path.join(self._snapdir(), f"v{v:06d}.json"))
        return expired

    def rollback_orphans(self) -> None:
        """Drop data dirs not referenced by any manifest (crash debris):
        whole commit dirs no manifest lists, and the attempts beside the
        published one in a commit dir that a manifest does list. Not
        safe against a writer still in flight."""
        # table -> {commit: its published attempt}
        referenced: dict[str, dict[int, str]] = {}
        for v in self.versions():
            man = self.manifest(v)
            for t, cs in man["tables"].items():
                for c in cs:
                    referenced.setdefault(t, {})[c] = man["attempts"][str(c)]
        for t in SCHEMAS:
            tdir = os.path.join(self.root, t)
            if not os.path.isdir(tdir):
                continue
            live = referenced.get(t, {})
            for name in os.listdir(tdir):
                if not name.startswith("commit="):
                    continue
                cdir = os.path.join(tdir, name)
                c = int(name.split("=", 1)[1])
                if c not in live:
                    shutil.rmtree(cdir)
                else:
                    for attempt in os.listdir(cdir):
                        if attempt != live[c]:
                            shutil.rmtree(os.path.join(cdir, attempt))
        # filter files not referenced by any surviving manifest
        fdir = os.path.join(self.root, "_filters")
        if os.path.isdir(fdir):
            live = {
                e["file"]
                for v in self.versions()
                for e in self.manifest(v)
                .get("meta", {})
                .get("seen_filters", {})
                .values()
            }
            for name in os.listdir(fdir):
                if name not in live:
                    os.remove(os.path.join(fdir, name))

    # ---- domain helpers ---------------------------------------------
    def completion(self) -> DataFrame:
        """A1 — crawl-termination aggregate: a crawl is complete when
        every status row is 'indexed' (README.md 'Required
        Infrastructure'; SURVEY.md §2 A1)."""
        st = self.read("crawl_status")
        return st.groupBy("crawl_id").agg(
            F.min((F.col("status") == "indexed").cast("int"))
            .cast("boolean")
            .alias("complete"),
            F.count("*").alias("n_urls"),
        )


class PendingCommit:
    """A multi-table commit in flight (from `StateStore.begin`).
    Writes land immediately in this attempt's own data dirs; the
    manifest — and therefore visibility — appears only at `finalize()`.
    A crash before finalize leaves orphan dirs that `rollback_orphans`
    drops; a retry (the next `begin()`) writes beside them."""

    def __init__(self, store: StateStore, prev_manifest: dict, version: int):
        self.store = store
        self.version = version
        self.attempt = uuid.uuid4().hex
        self.tables = {t: list(cs) for t, cs in prev_manifest["tables"].items()}
        self.attempts = dict(prev_manifest["attempts"])

    def _write(self, table: str, df: DataFrame) -> None:
        _check_schema(table, df)
        self.attempts[str(self.version)] = self.attempt
        path = self.store._commit_dir(table, self.version, self.attempts)
        df.coalesce(self.store.write_partitions).write.mode(
            "errorifexists"
        ).parquet(path)

    def append(self, table: str, df: DataFrame) -> None:
        self._write(table, df)
        self.tables.setdefault(table, []).append(self.version)

    def replace(self, table: str, df: DataFrame) -> None:
        self._write(table, df)
        self.tables[table] = [self.version]

    def finalize(self, meta: dict | None = None) -> int:
        """Publish the manifest, or raise `CommitConflict` when another
        writer already published this version (this attempt's data
        dirs then stay unreferenced)."""
        live = {str(c) for cs in self.tables.values() for c in cs}
        man = {
            "version": self.version,
            "tables": self.tables,
            "attempts": {v: a for v, a in self.attempts.items() if v in live},
            "meta": meta or {},
        }
        snapdir = self.store._snapdir()
        name = f"v{self.version:06d}.json"
        tmp = os.path.join(snapdir, f".tmp_{self.attempt}_{name}")
        with open(tmp, "w") as fh:
            json.dump(man, fh)
        try:
            # exclusive create: a link fails where a rename would replace
            os.link(tmp, os.path.join(snapdir, name))
        except FileExistsError:
            raise CommitConflict(
                f"snapshot version {self.version} under {self.store.root} "
                "was published by another writer"
            ) from None
        finally:
            os.remove(tmp)
        return self.version


def recrawl_due(
    seen: DataFrame, now_ms: int, ttl_days: int = SEEN_TTL_DAYS
) -> DataFrame:
    """Maintenance-side recrawl selection: url_seen rows whose
    `seen_at_ms` is older than the TTL — the read-only twin of the
    `maintain()` sweep (reference: entries expire from the 7-day
    double cache and become crawlable again, CrawlerListener.java:
    84-85, 96-108). Feeding these into a new crawl start reproduces
    the reference's recrawl behavior; the filter is a pushed-down
    scan predicate, no shuffle."""
    cutoff = int(now_ms) - int(ttl_days) * 86_400_000
    return seen.filter(F.col("seen_at_ms") < F.lit(cutoff)).select(
        "crawl_id", "url_id", "seen_at_ms",
        (F.lit(int(now_ms)) - F.col("seen_at_ms")).alias("age_ms"),
    )


def adaptive_recrawl(
    history: DataFrame, base_interval_ms: int = 86_400_000
) -> DataFrame:
    """Change-rate-adaptive recrawl scheduling (Cho & Garcia-Molina
    freshness model): URLs whose content changed on every fetch come
    due after `base_interval_ms`; URLs that never changed stretch the
    interval by their observed fetch/change ratio. Extends the flat
    7-day TTL sweep (`recrawl_due`, the reference's only recrawl
    affordance) with per-URL history.

    `history` rows are (url_id, fetch_ts_ms, content_md5) — one per
    completed fetch. Returns (url_id, n_fetches, n_changes,
    interval_ms, next_due_ms), all bigint: interval_ms =
    base * n_fetches DIV n_changes (integer arithmetic — the estimate
    is deterministic and oracle-exact; n_changes >= 1 since any
    fetched URL has at least one observed version).

    Scale shape: ONE url_id-keyed aggregate; count(distinct md5) is
    the only expand, bounded per URL by its fetch count. No joins, no
    windows — at 10^10 URLs this is a single map-side-combined
    shuffle."""
    agg = history.groupBy("url_id").agg(
        F.count("*").alias("n_fetches"),
        F.countDistinct("content_md5").alias("n_changes"),
        F.max("fetch_ts_ms").alias("_last"),
    )
    interval = F.expr(
        f"CAST({int(base_interval_ms)} AS BIGINT) * n_fetches DIV n_changes"
    )
    return agg.select(
        "url_id",
        "n_fetches",
        "n_changes",
        interval.alias("interval_ms"),
        (F.col("_last") + interval).alias("next_due_ms"),
    )

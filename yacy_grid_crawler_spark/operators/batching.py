"""G1/G2/G3/G4/G5 + politeness — ordering, batching, sharding, lanes.

G1 fixed-size batching   createPartition(urls, 8) — greedy sequential
                         batches in collection order
                         (CrawlerListener.java:406, 451-462)
G2 index-before-noindex  two-pass emit; index batches sort strictly
                         before noindex within a wave (:386-429, 412)
G3 host-keyed sharding   hashKey = host of the batch's first URL
                         (:504); BALANCE/LEAST_FILLED queue selection
                         (:512-555) → hash-partition + AQE + hot-host
                         salting [north-rule addition]
G4 priority lanes        queue split [normal, priority] (:62-76);
                         lane from profile priority (:217)
G5 canonical total order (depth, lane, do_index desc, batch_no,
                         batch_pos) — the crawl-order spec fixing the
                         reference's JVM-hash-unspecified intra-wave
                         order (SURVEY.md §5)

Politeness [north rule, no reference counterpart — owned by
yacy_grid_loader, SURVEY.md §1.6]: per-host fetch slots
fetch_slot = row_number over host in canonical order;
not_before = wave_start + fetch_slot × crawl_delay(host).
The politeness window is keyed on the UN-salted host so salting the
shuffle never breaks per-host ordering (§7 risk note).

Scale notes: every window here partitions by (crawl_id [, host]) —
no global sort anywhere; the canonical order is established with ONE
shuffle on (crawl_id) ordered locally per partition group, and the
G3 shard column makes downstream writes cluster by host without a
second shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import BATCH_SIZE


def assign_lane(df: DataFrame, priority: Column) -> DataFrame:
    """G4 — lane from the profile's priority int
    (CrawlerListener.java:62-76, 217); a literal priority folds to a
    literal lane."""
    return df.withColumn(
        "lane", F.when(priority > 0, "priority").otherwise("normal")
    )


def assign_batches(
    df: DataFrame,
    order: tuple[str, ...] = ("parent_ord", "span_offset"),
    batch_size: int = BATCH_SIZE,
    distributed: bool = False,
    cache_registry: list | None = None,
    base_positions: DataFrame | None = None,
) -> DataFrame:
    """G1+G2 — position within the (crawl, index-split) group in
    canonical order → batch_no / batch_pos. Index rows (do_index=true)
    form their own group emitted before noindex (G2: `ini` 0 then 1,
    CrawlerListener.java:412).

    `distributed=False` uses a window over (crawl_id, do_index) — fine
    up to millions of rows per crawl but a 2-partitions-per-crawl
    bottleneck at 10^10 scale. `distributed=True` computes the same
    positions with range-partitioned two-phase ranking
    (`global_positions`) — identical output, parallel everywhere.

    `base_positions` (crawl_id, do_index, _base_pos): per-group
    position offsets from PRIOR capped sub-waves of the same depth
    (CrawlJob max_wave_urls carry-over) — a tiny aggregate,
    broadcast-joined so numbering continues where the previous
    sub-wave stopped instead of restarting at batch 0.
    """
    group = ("crawl_id", "do_index")
    if distributed:
        df = global_positions(
            df, group_cols=group, order_cols=order, out="_pos",
            cache_registry=cache_registry,
        )
    else:
        w = Window.partitionBy(*group).orderBy(*[F.col(c) for c in order])
        df = df.withColumn("_pos", F.row_number().over(w) - 1)
    if base_positions is not None:
        df = (
            df.join(F.broadcast(base_positions), list(group), "left")
            .withColumn(
                "_pos", F.col("_pos") + F.coalesce(F.col("_base_pos"), F.lit(0))
            )
            .drop("_base_pos")
        )
    # single withColumns call: each DataFrame op re-analyzes the whole
    # (deep) wave plan JVM-side, so call count is fixed-floor cost
    return df.withColumns(
        {
            "batch_no": (F.col("_pos") / batch_size).cast("bigint"),
            "batch_pos": (F.col("_pos") % batch_size).cast("int"),
        }
    ).drop("_pos")


def global_positions(
    df: DataFrame,
    group_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    out: str = "_pos",
    cache_registry: list | None = None,
    broadcast_offsets: bool = True,
) -> DataFrame:
    """Distributed 0-based dense position within each group, ordered by
    `order_cols` — the scale-out replacement for a per-group window.

    Two phases (classic distributed ranking):
      1. range-partition on (group_cols + order_cols) → each group's
         rows occupy a contiguous run of partitions, sorted;
      2. count rows per (physical partition × group) — a tiny aggregate
         (≤ partitions × groups rows) — turn it into per-group prefix
         offsets with a cheap window over that aggregate (DISTRIBUTED;
         no driver collect, the rank stays inside one lazy plan), join
         the offsets back (broadcast when the group count is small),
         then position = offset + local row_number (a window keyed by
         spark_partition_id — fully parallel).
    """
    keys = [F.col(c) for c in (*group_cols, *order_cols)]
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # repartitionByRange's RangePartitioner runs a SAMPLING job over
    # its child before the real exchange. Shuffle map stages are
    # reused across the two jobs, so only the child's final narrow
    # stage (anti-join probe, regex verdicts, windows) is evaluated
    # twice — persisting the input to avoid that recompute was
    # MEASURED SLOWER (interleaved A/B, 14M-URL wave, local[8]:
    # min 34.4 s / 218 CPU-s persisted vs 32.2 s / 202 CPU-s not;
    # the cache materialization of wave-width rows costs more than
    # the duplicated narrow stage on this memory-bound box). Leave
    # the input unpersisted; see BASELINE.md round-3 notes.
    ranged = df.repartitionByRange(n_part, *keys).withColumn(
        "_pid", F.spark_partition_id()
    )
    ranged = ranged.persist()
    if cache_registry is not None:
        cache_registry.append(ranged)
    # Per-group prefix offsets, computed DISTRIBUTED: the (pid × group)
    # aggregate is tiny (≤ partitions × groups rows), so the running
    # sum over it is a cheap window and the result broadcast-joins
    # back. No driver collect → the whole rank stays inside ONE lazy
    # plan (the wave runs zero mid-pipeline actions).
    cum = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_df = (
        ranged.groupBy("_pid", *group_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "_pid",
            *group_cols,
            F.coalesce(F.sum("_n").over(cum), F.lit(0)).alias("_offset"),
        )
    )
    w = Window.partitionBy("_pid", *group_cols).orderBy(
        *[F.col(c) for c in order_cols]
    )
    # offsets table size = (partitions x groups-per-partition). For
    # batching the group is (crawl_id, do_index) — a handful of rows,
    # always broadcast. For per-HOST grouping (politeness) the group
    # cardinality is the host count — 10^8 at target scale — so the
    # caller disables the hint and AQE picks broadcast only when the
    # aggregate is actually small.
    off = F.broadcast(off_df) if broadcast_offsets else off_df
    result = (
        ranged.join(off, [*group_cols, "_pid"], "left")
        .withColumn(out, F.col("_offset") + F.row_number().over(w) - 1)
        .drop("_pid", "_offset")
    )
    # `ranged` stays cached until the wave's unpersist sweep — the
    # offsets branch and the downstream materialization both read it
    return result


def assign_shard(
    df: DataFrame,
    n_shards: int,
    host_col: str = "host",
    hot_host_threshold: int | None = None,
    n_salts: int = 8,
) -> DataFrame:
    """G3 — shard = pmod(hash(host), P): per-host affinity like the
    reference's host hashKey queue choice (CrawlerListener.java:504).

    Hot-host salting [north-rule addition]: hosts whose wave row count
    exceeds `hot_host_threshold` get `salt = pmod(hash(url_id), S)` so
    a Zipf head host fans out over S shards instead of straggling one
    partition. The salt affects ONLY the physical shard; politeness
    and ordering stay keyed on the un-salted host."""
    df = df.withColumn("shard", F.pmod(F.hash(F.col(host_col)), F.lit(n_shards)))
    if hot_host_threshold is None:
        return df.withColumn("salt", F.lit(0))
    counts = df.groupBy(host_col).agg(F.count("*").alias("_host_n"))
    hot = counts.filter(F.col("_host_n") > hot_host_threshold).drop("_host_n")
    df = df.join(
        F.broadcast(hot.withColumn("_hot", F.lit(True))), host_col, "left"
    )
    salt = F.when(
        F.col("_hot").isNotNull(), F.pmod(F.hash(F.col("url_id")), F.lit(n_salts))
    ).otherwise(F.lit(0))
    return (
        df.withColumn("salt", salt)
        .withColumn(
            "shard", F.pmod(F.col("shard") + F.col("salt"), F.lit(n_shards))
        )
        .drop("_hot")
    )


def politeness_slots(
    df: DataFrame,
    robots: DataFrame | None = None,
    wave_start_ms: int = 0,
    default_delay_ms: int = 0,
    distributed: bool = False,
    cache_registry: list | None = None,
    base_slots: DataFrame | None = None,
) -> DataFrame:
    """Per-host fetch slots + not_before timestamps [north rule].
    robots: (host, disallow_prefixes, crawl_delay_ms) — broadcast.

    `distributed=True` computes the per-host rank with the same
    range-partitioned two-phase machinery as G1 batching
    (`global_positions`) instead of a `Window.partitionBy(host)`.
    This matters precisely BECAUSE the web is Zipf: the head host of a
    skewed frontier puts ~20% of the wave into ONE window task, a
    parallelism-independent straggler that caps scaling efficiency at
    any cluster size; the two-phase rank spreads the same computation
    over range partitions (identical slots, pinned by the wave-oracle
    equality tests and test_distributed_rank_matches_window)."""
    if distributed:
        df = df.withColumn("_ini", (1 - F.col("do_index").cast("int")))
        df = global_positions(
            df,
            group_cols=("crawl_id", "host"),
            order_cols=("_ini", "batch_no", "batch_pos"),
            out="fetch_slot",
            cache_registry=cache_registry,
            broadcast_offsets=False,  # host-cardinality offsets: AQE decides
        ).drop("_ini")
        # fetch_slot is a long here; the final withColumns casts to int
    else:
        w = Window.partitionBy("crawl_id", "host").orderBy(
            (1 - F.col("do_index").cast("int")), "batch_no", "batch_pos"
        )
        df = df.withColumn("fetch_slot", F.row_number().over(w) - 1)
    if base_slots is not None:
        # cross-wave politeness budget: fetch slots CONTINUE from the
        # host's cumulative count over prior waves (base_slots =
        # (crawl_id, host, next_slot)); host-cardinality dim → AQE
        # picks the join strategy
        df = df.join(
            base_slots.select(
                "crawl_id", "host", F.col("next_slot").alias("_base")
            ),
            ["crawl_id", "host"],
            "left",
        ).withColumn(
            "fetch_slot",
            F.coalesce(F.col("_base"), F.lit(0)) + F.col("fetch_slot"),
        ).drop("_base")
    if robots is not None:
        df = df.join(
            # host-cardinality dimension: AQE decides (see robots_verdict)
            robots.select("host", "crawl_delay_ms"), "host", "left"
        )
        delay = F.coalesce(F.col("crawl_delay_ms"), F.lit(default_delay_ms))
    else:
        delay = F.lit(default_delay_ms)
    # one withColumns + one drop: both expressions read the INPUT
    # fetch_slot (same value pre/post int cast), and every saved call
    # is one less full JVM re-analysis of the deep wave plan
    return df.withColumns(
        {
            "fetch_slot": F.col("fetch_slot").cast("int"),
            "not_before_ms": (
                F.lit(wave_start_ms) + F.col("fetch_slot") * delay
            ).cast("long"),
        }
    ).drop("crawl_delay_ms")


ASSET_BASEPATH = "/data/aaaaa/accounting"  # CrawlerListener.java:499


def lineage_column(depth_col=None, partition_col=None, timestamp_ms=None, ini_col=None):
    """S9 — deterministic per-partition lineage docname mirroring the
    reference's asset naming (CrawlerListener.java:497-503):
    ``d{depth:02}-t{YYYYMMddHHmmssSSS}-p{batch:04}`` (zero-padding via
    `intf`, :569-573). The timestamp is the wave's loader timestamp
    PLUS the ini offset (0 index / 1 noindex, :412) — the reference's
    trick that makes index batches sort strictly before noindex
    batches sharing a wall-clock start. Formatted in UTC (the
    reference's SimpleDateFormat uses the JVM default zone — a
    deployment setting; UTC makes the name deterministic).

    With ``timestamp_ms=None`` emits the short ``d..-p..`` form (used
    where no wave clock exists)."""
    depth_col = depth_col if depth_col is not None else F.col("depth")
    partition_col = partition_col if partition_col is not None else F.col("batch_no")
    if timestamp_ms is None:
        return F.format_string("d%02d-p%04d", depth_col, partition_col.cast("int"))
    ts = F.lit(timestamp_ms).cast("long")
    if ini_col is not None:
        ts = ts + ini_col.cast("long")
    # rendered in the session zone — the engine pins
    # spark.sql.session.timeZone=UTC (session.get_spark)
    stamp = F.concat(
        F.date_format(F.timestamp_millis(ts), "yyyyMMddHHmmss"),
        F.format_string("%03d", F.pmod(ts, F.lit(1000)).cast("int")),
    )
    return F.format_string(
        "d%02d-t%s-p%04d", depth_col, stamp, partition_col.cast("int")
    )


def asset_columns(
    df: DataFrame,
    user_id: str,
    crawl_id: str,
    archive_warc: bool = False,
    archive_index: bool = False,
    archive_graph: bool = False,
    lineage_col: str = "lineage",
) -> DataFrame:
    """S9 — full asset paths from the lineage docname
    (CrawlerListener.java:499-503):
    ``{base}/{user_id}/{warc|index|graph}/{crawl_id}/{docname}.{ext}``.
    Each variant is gated on its archive flag (profile fields
    archiveWARC/Index/Graph, :211-213; defaults false,
    CrawlerDefaultValuesService.java:76-78): NULL when the flag is
    off — the asset will never be written, so no name is minted."""
    def path(kind: str, ext: str, flag: bool):
        if not flag:
            return F.lit(None).cast("string")
        return F.concat(
            F.lit(f"{ASSET_BASEPATH}/{user_id}/{kind}/{crawl_id}/"),
            F.col(lineage_col),
            F.lit(ext),
        )

    return (
        df.withColumn("warc_asset", path("warc", ".warc.gz", archive_warc))
        .withColumn("index_asset", path("index", ".index.jsonlist", archive_index))
        .withColumn("graph_asset", path("graph", ".graph.jsonlist", archive_graph))
    )


def next_fetch_batch(
    frontier: DataFrame,
    now_ms: int,
    k: int,
    shard_col: str = "shard",
    order_cols: tuple[str, ...] = ("batch_no", "batch_pos"),
) -> DataFrame:
    """Consumer-side dequeue — the loader's view of the frontier
    (the reference's queue consumers pull per-shard queues,
    CrawlerListener.java hashKey routing): per shard, the next `k`
    URLs whose politeness gate has opened (`not_before_ms <= now`),
    priority lane first, then canonical batch order. Adds
    `fetch_rank` (0-based within shard), keeps rows with rank < k.

    Scale shape: the eligibility filter pushes into the frontier
    scan (not_before_ms is a plain column), and the window partitions
    on shard — the deliberate parallelism unit (n_shards is sized
    several times the executor count, and hot hosts were already
    salted across shards at enqueue), so no single-partition window
    and no skewed key.
    """
    lane_rank = F.when(F.col("lane") == "priority", 0).otherwise(1)
    w = Window.partitionBy(shard_col).orderBy(
        lane_rank, *[F.col(c) for c in order_cols]
    )
    return (
        frontier.filter(F.col("not_before_ms") <= F.lit(now_ms))
        .withColumn("fetch_rank", F.row_number().over(w) - 1)
        .filter(F.col("fetch_rank") < k)
    )


def frontier_host_lag(
    frontier: DataFrame,
    robots: DataFrame | None = None,
    default_delay_ms: int = 0,
    horizon_ms: int = 60_000,
) -> DataFrame:
    """Per-host frontier-drain forecast — the scheduler-ops view of
    the politeness budget [north rule]. Politeness makes a host queue
    drain SERIALLY at one fetch per crawl_delay_ms, so a host's
    backlog finishes at (n_queued - 1)·delay regardless of cluster
    size: this op surfaces exactly which hosts will still be fetching
    after everyone else is idle (the wave's long tail) and which are
    candidates for the hot-host salting / wave-size-cap levers.

    Output per (crawl_id, host): n_queued, crawl_delay_ms,
    drain_ms = (n_queued - 1)·delay (last slot's not_before — 0 for a
    single-URL host), and starved = drain_ms > horizon_ms (the host
    cannot finish inside the wave horizon; reschedule or cap it).

    Scale shape: ONE map-side-combining count aggregate keyed on
    (crawl_id, host) — the same key politeness itself shuffles on —
    plus a host-dim join (broadcast-scale; AQE decides). No windows:
    the forecast needs only the count, not the slots."""
    counts = frontier.groupBy("crawl_id", "host").agg(
        F.count("*").alias("n_queued")
    )
    if robots is not None:
        counts = counts.join(
            robots.select("host", "crawl_delay_ms"), "host", "left"
        )
    else:
        counts = counts.withColumn("crawl_delay_ms", F.lit(None).cast("int"))
    delay = F.coalesce(F.col("crawl_delay_ms"), F.lit(int(default_delay_ms)))
    drain = ((F.col("n_queued") - 1) * delay).cast("long")
    return counts.select(
        "crawl_id",
        "host",
        "n_queued",
        delay.cast("int").alias("crawl_delay_ms"),
        drain.alias("drain_ms"),
        (drain > F.lit(int(horizon_ms))).alias("starved"),
    )


def rendezvous_shard(
    df: DataFrame, host_col: str, shard_ids: list[str]
) -> DataFrame:
    """Rendezvous (highest-random-weight) host→shard assignment
    (Thaler & Ravishankar 1998) — the fetcher-affinity scheme that
    survives fleet churn: each host goes to the shard maximizing
    md5(host|shard). Unlike `assign_shard`'s pmod (where resizing
    from K to K−1 shards reshuffles ~all hosts and every politeness/
    robots/connection cache behind them goes cold), removing a shard
    moves ONLY the hosts that lived on it, each to its second-highest
    shard — ~1/K of the keyspace, the theoretical minimum.

    Output: input columns + `shard` (string id). Deterministic (md5,
    ties broken by shard id — md5 collisions aside, unreachable).

    Scale shape: pure codegen — a K-element array of (weight, shard)
    structs folded by array_max per row; no shuffle, no UDF, no dim
    join. K is the fetcher-fleet size (10²-10³): the struct array is
    built once per row in whole-stage codegen. For K beyond that,
    switch to the explode+max_by formulation (one narrow agg)."""
    scored = [
        F.struct(
            F.md5(
                F.concat(F.col(host_col), F.lit("|" + str(s)))
            ).alias("w"),
            F.lit(str(s)).alias("shard"),
        )
        for s in shard_ids
    ]
    return df.withColumn(
        "shard", F.array_max(F.array(*scored))["shard"]
    )

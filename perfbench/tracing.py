"""Traced run: spans around the engine's public entry points, Spark's
event log, and per-operator probes, folded into per-layer metrics.

Spans are recorded from outside the engine: `Tracer.install` replaces
the public entry points with wrappers for the duration of one traced
operation and `uninstall` puts the originals back. Each span records
its name, start, end, parent span and run id; spans stay in memory and
are written out when the run ends.

Jobs, stages and tasks come from the event log the traced session
writes (`spark.eventLog.*`, set by run.py). A job, stage or task
belongs to the wave span its submission (launch) time falls in.

The operator layers run fused inside one wave and cannot be timed
there, so `operator_probes` calls each public operator on a persisted
copy of the workload's stage input and forces it with a `noop` write.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from host import dir_bytes
from pyspark.sql import functions as F

# (module, qualified name) of every public entry point a span wraps
ENTRY_POINTS = (
    ("yacy_grid_crawler_spark.plans.crawl_job", "CrawlJob.start"),
    ("yacy_grid_crawler_spark.plans.crawl_job", "CrawlJob.step"),
    ("yacy_grid_crawler_spark.plans.crawl_job", "CrawlJob.step_all"),
    ("yacy_grid_crawler_spark.plans.crawl_job", "CrawlJob.maintain"),
    ("yacy_grid_crawler_spark.plans.crawl_job", "run_wave"),
    ("yacy_grid_crawler_spark.plans.wave", "run_wave"),
    ("yacy_grid_crawler_spark.plans.multiwave", "run_wave_multi"),
    ("yacy_grid_crawler_spark.sources.statestore", "StateStore.read"),
    ("yacy_grid_crawler_spark.sources.statestore", "StateStore.manifest"),
    ("yacy_grid_crawler_spark.sources.statestore", "StateStore.begin"),
    ("yacy_grid_crawler_spark.sources.statestore", "PendingCommit.append"),
    ("yacy_grid_crawler_spark.sources.statestore", "PendingCommit.finalize"),
)


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def install(self) -> None:
        import importlib

        for modname, qual in ENTRY_POINTS:
            owner = importlib.import_module(modname)
            parts = qual.split(".")
            for p in parts[:-1]:
                owner = getattr(owner, p)
            orig = getattr(owner, parts[-1])
            name = qual if "." in qual else f"{modname.rsplit('.', 1)[1]}.{qual}"
            setattr(owner, parts[-1], self._wrap(orig, name))
            self._patches.append((owner, parts[-1], orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches = []

    def _wrap(self, fn, name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if name == "PendingCommit.append":
                    # files and bytes this append wrote
                    pc, table = args[0], args[1]
                    path = os.path.join(pc.store.root, table, f"commit={pc.version}")
                    rec["files"], rec["bytes"] = dir_bytes(path)
                return out

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ---- Spark event log ----------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks of the (single) application in `log_dir`.
    Times are epoch seconds."""
    jobs, ends, stages, tasks = {}, {}, [], []
    # single-file or rolling (eventlog_v2_*/events_<n>_*) layout
    paths = [
        os.path.join(d, n)
        for d, _dirs, names in os.walk(log_dir)
        for n in names
        if not n.startswith((".", "appstatus"))
    ]
    for path in sorted(paths):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                elif kind == "SparkListenerJobEnd":
                    ends[ev["Job ID"]] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    if "Submission Time" in si:
                        stages.append({
                            "id": si["Stage ID"],
                            "submit": si["Submission Time"] / 1000.0,
                            "tasks": si["Number of Tasks"],
                        })
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "launch": ti["Launch Time"] / 1000.0,
                        "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                        "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                    })
    job_list = [
        {"id": j, "submit": s, "end": ends.get(j, s)} for j, s in sorted(jobs.items())
    ]
    return {"jobs": job_list, "stages": stages, "tasks": tasks}


def _inside(t: float, span: dict) -> bool:
    return span["start"] <= t <= span["end"]


def _covered(span: dict, jobs: list[dict]) -> float:
    """Seconds of `span` during which at least one Spark job ran."""
    ivs = sorted(
        (max(j["submit"], span["start"]), min(j["end"], span["end"]))
        for j in jobs
        if j["end"] >= span["start"] and j["submit"] <= span["end"]
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def _med(values: list[float]) -> tuple[float, int]:
    return (float(statistics.median(values)) if values else 0.0, len(values))


def layer_metrics(
    tracer: Tracer, events: dict, wave_span_name: str, cores: int
) -> tuple[dict, dict]:
    """Per-wave span statistics → ({metric: value}, {metric: samples}).
    `wave_span_name` names the span that is one wave of the workload."""
    spans = [s for s in tracer.spans if s["end"] is not None]
    waves = [s for s in spans if s["name"] == wave_span_name]
    by = lambda name: [s for s in spans if s["name"] == name]
    dur = lambda s: s["end"] - s["start"]
    within = lambda w, name: [
        s for s in by(name) if w["start"] <= s["start"] and s["end"] <= w["end"]
    ]
    jobs, stages, tasks = events["jobs"], events["stages"], events["tasks"]

    per_wave: dict[str, list[float]] = {k: [] for k in (
        "jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes",
        "task_busy_frac", "commit_s", "read_s",
        "manifest_reads", "files_written", "bytes_written", "gc_s",
        "executor_cpu_s",
    )}
    stage_skews: list[float] = []
    for w in waves:
        wj = [j for j in jobs if _inside(j["submit"], w)]
        ws = [s for s in stages if _inside(s["submit"], w)]
        sids = {s["id"] for s in ws}
        wt = [t for t in tasks if t["stage"] in sids]
        per_wave["jobs"].append(len(wj))
        per_wave["stages"].append(len(ws))
        per_wave["tasks"].append(len(wt))
        per_wave["shuffle_bytes"].append(sum(t["shuffle_bytes"] for t in wt))
        per_wave["spill_bytes"].append(sum(t["spill_bytes"] for t in wt))
        per_wave["task_busy_frac"].append(
            sum(t["run_s"] for t in wt) / (cores * dur(w))
        )
        per_wave["commit_s"].append(
            sum(dur(s) for s in within(w, "PendingCommit.append"))
            + sum(dur(s) for s in within(w, "PendingCommit.finalize"))
        )
        per_wave["read_s"].append(sum(dur(s) for s in within(w, "StateStore.read")))
        per_wave["manifest_reads"].append(len(within(w, "StateStore.manifest")))
        appends = within(w, "PendingCommit.append")
        per_wave["files_written"].append(sum(s.get("files", 0) for s in appends))
        per_wave["bytes_written"].append(sum(s.get("bytes", 0) for s in appends))
        per_wave["gc_s"].append(sum(t["gc_s"] for t in wt))
        per_wave["executor_cpu_s"].append(sum(t["cpu_s"] for t in wt))
        for sid in sids:
            d = [t["dur"] for t in wt if t["stage"] == sid]
            if len(d) >= 2 and sum(d) > 0:
                stage_skews.append(max(d) / (sum(d) / len(d)))

    values, samples = {}, {}

    def put(name: str, vals: list[float]) -> None:
        values[name], samples[name] = _med(vals)

    plan = [dur(s) for s in spans if s["name"] in ("wave.run_wave", "crawl_job.run_wave",
                                                   "multiwave.run_wave_multi")]
    put("plans.wave.plan_s", plan)
    for k in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes", "task_busy_frac"):
        put(f"plans.wave.{k}", per_wave[k])
    put("plans.wave.stage_skew", stage_skews)

    steps = by("CrawlJob.step")
    tiers = by("CrawlJob.step_all")
    put("plans.crawl_job.start_s", [dur(s) for s in by("CrawlJob.start")])
    put("plans.crawl_job.step_s", [dur(s) for s in steps])
    put("plans.crawl_job.driver_gap_s", [dur(s) - _covered(s, jobs) for s in steps])
    put("plans.crawl_job.maintain_s", [dur(s) for s in by("CrawlJob.maintain")])
    values["plans.crawl_job.waves"] = float(len(steps) + len(tiers))
    samples["plans.crawl_job.waves"] = 1
    put("plans.multiwave.tier_s", [dur(s) for s in tiers])
    put("plans.multiwave.jobs_per_tier",
        [len([j for j in jobs if _inside(j["submit"], s)]) for s in tiers])
    put("plans.multiwave.driver_gap_s", [dur(s) - _covered(s, jobs) for s in tiers])

    for k in ("commit_s", "read_s", "manifest_reads", "files_written", "bytes_written"):
        put(f"sources.statestore.{k}", per_wave[k])
    put("spark.gc_s", per_wave["gc_s"])
    put("spark.executor_cpu_s", per_wave["executor_cpu_s"])
    values["trace.spans"] = float(len(spans))
    samples["trace.spans"] = 1
    return values, samples


# ---- operator probes ------------------------------------------------------

PROBE_REPS = 3


def _noop_s(df) -> tuple[float, list[float]]:
    times = []
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), times


def operator_probes(w) -> tuple[dict, dict]:
    """Time each public operator of the wave on the workload's stage
    input (`w.cands`, every link of its corpus) → ({metric: value},
    {metric: samples})."""
    from yacy_grid_crawler_spark.functions.udfs import canonicalize
    from yacy_grid_crawler_spark.functions.urlnorm import (
        FAST_CANONICAL_PATTERN,
        TIER2_CANONICAL_PATTERN_JVM,
    )
    from yacy_grid_crawler_spark.operators.batching import (
        assign_batches, assign_shard, politeness_slots,
    )
    from yacy_grid_crawler_spark.operators.blacklist import apply_blacklist
    from yacy_grid_crawler_spark.operators.dedup import (
        dedup_against_seen, first_occurrence,
    )
    from yacy_grid_crawler_spark.operators.filters import (
        content_domain_jvm, do_index_verdict, mustmatch_verdict, robots_verdict,
    )
    from yacy_grid_crawler_spark.plans.wave import CANON_ORDER

    spark, profile = w.spark, w.profile
    cached: list = []

    def keep(df):
        df = df.persist()
        df.count()
        cached.append(df)
        return df

    values, samples = {}, {}
    s0 = w.cands
    slow = ~F.regexp_like("url_raw", F.lit(FAST_CANONICAL_PATTERN)) & ~F.regexp_like(
        "url_raw", F.lit(TIER2_CANONICAL_PATTERN_JVM)
    )
    row = s0.agg(F.count(F.lit(1)), F.count(F.when(slow, 1))).collect()[0]
    values["functions.slow_path_frac"] = row[1] / row[0]
    samples["functions.slow_path_frac"] = row[0]

    def timed(name: str, df) -> None:
        values[name], times = _noop_s(df)
        samples[name] = len(times)

    try:
        timed("functions.canonicalize_s",
              s0.filter(slow).select(canonicalize(F.col("url_raw")).alias("url")))
        s1 = keep(
            s0.withColumn("url", canonicalize(F.col("url_raw")))
            .filter(content_domain_jvm(F.col("url")).isin("text", "all"))
            .drop("url_raw")
        )
        first = first_occurrence(
            s1, key="url", order=CANON_ORDER, carry=(), crawl_col=None,
            keep_packed="_ord",
        ).withColumns({"url_id": F.md5("url"), "crawl_id": F.lit(profile["id"])})
        timed("operators.dedup.first_occurrence_s", first)
        s2 = keep(first)
        novel = dedup_against_seen(
            s2, w.seen.select("url_id"), key="url_id", crawl_col=None,
            use_bloom=False, assume_unique=True, join_hint="shuffle_hash",
        )
        timed("operators.dedup.anti_join_s", novel)
        s3 = keep(novel)
        verdicts = s3.withColumns({
            "host": F.regexp_extract("url", r"^[a-z]+://(?:[^/@]*@)?([^/:?]+)", 1),
            "_mm_ok": mustmatch_verdict(
                F.col("url"), profile.get("mustmatch", ".*"),
                profile.get("mustnotmatch", ""),
            ),
        })
        verdicts = robots_verdict(
            apply_blacklist(verdicts, w.rules, out_col="_bl"), w.robots
        )
        timed("operators.filters.verdict_s", verdicts)
        passed = keep(
            verdicts.filter(F.col("_mm_ok") & ~F.col("_bl") & ~F.col("robots_blocked"))
            .drop("_mm_ok", "_bl", "robots_blocked")
            .withColumns({
                "do_index": do_index_verdict(
                    F.col("url"), profile.get("indexmustmatch", ".*"),
                    profile.get("indexmustnotmatch", ""),
                ),
                "lane": F.lit("normal"),
            })
        )
        ranked = assign_batches(
            passed, order=("_ord",), distributed=True, cache_registry=cached
        ).drop("_ord")
        ranked = assign_shard(ranked, w.n_shards,
                              hot_host_threshold=max(row[0] // 100, 1000))
        ranked = politeness_slots(ranked, w.robots, distributed=True,
                                  cache_registry=cached)
        timed("operators.batching.rank_s", ranked)
    finally:
        for df in cached:
            df.unpersist()
    return values, samples


def shard_skew(store, n_shards: int) -> float:
    """max ÷ mean frontier rows per shard (mean over all `n_shards`)."""
    rows = store.read("frontier").groupBy("shard").count().collect()
    total = sum(r["count"] for r in rows)
    return max(r["count"] for r in rows) / (total / n_shards) if total else 0.0

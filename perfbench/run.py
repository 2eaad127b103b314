"""Crawler benchmark: one command, three workloads.

    python3 perfbench/run.py --workload wave_large --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout: builds the seeded inputs, starts a
`local[nproc]` Spark session sized for the box, warms the engine, then
runs timed operations of the workload until `--seconds` of operation
time have been measured (at least one operation). Every operation's output is checked outside the timed
window. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics; with
`--trace 1` the run additionally traces one operation and reports the
per-layer metrics (see README.md). The full record of a run (spans,
samples behind every median, box load, leftovers of earlier runs) is
written to `.perfbench/results/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback

from host import (
    WorkDir, calib, dir_bytes, stop_tree, tree_peak_rss_mb, tree_pids,
)
from tracing import (
    Tracer, layer_metrics, operator_probes, read_event_log, shard_skew,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
TIME_LIMIT_S = 170  # hard stop: the run must end within 180 s
MEASURE_LIMIT_S = 100  # start no new operation after this much run time

END_TO_END = {
    "setup_s": "s", "complete_s": "s", "urls_per_s": "1/s", "wave_p50_s": "s",
    "cpu_s": "s", "peak_rss_mb": "MB", "state_bytes": "bytes",
}
PER_LAYER_UNITS = {
    "functions.slow_path_frac": "ratio",
    "functions.canonicalize_s": "s",
    "operators.dedup.first_occurrence_s": "s",
    "operators.dedup.anti_join_s": "s",
    "operators.filters.verdict_s": "s",
    "operators.batching.rank_s": "s",
    "operators.dedup.session_dup_frac": "ratio",
    "operators.dedup.persistent_dup_frac": "ratio",
    "operators.filters.reject_frac": "ratio",
    "operators.accept_frac": "ratio",
    "operators.batching.shard_skew": "ratio",
    "plans.wave.plan_s": "s",
    "plans.wave.jobs": "count",
    "plans.wave.stages": "count",
    "plans.wave.tasks": "count",
    "plans.wave.shuffle_bytes": "bytes",
    "plans.wave.spill_bytes": "bytes",
    "plans.wave.task_busy_frac": "ratio",
    "plans.wave.stage_skew": "ratio",
    "plans.crawl_job.start_s": "s",
    "plans.crawl_job.step_s": "s",
    "plans.crawl_job.driver_gap_s": "s",
    "plans.crawl_job.maintain_s": "s",
    "plans.crawl_job.waves": "count",
    "plans.multiwave.tier_s": "s",
    "plans.multiwave.jobs_per_tier": "count",
    "plans.multiwave.driver_gap_s": "s",
    "sources.statestore.commit_s": "s",
    "sources.statestore.read_s": "s",
    "sources.statestore.manifest_reads": "count",
    "sources.statestore.files_written": "count",
    "sources.statestore.bytes_written": "bytes",
    "spark.gc_s": "s",
    "spark.executor_cpu_s": "s",
    "trace.overhead": "ratio",
    "trace.spans": "count",
}
WAVE_SPAN = {
    "wave_large": "wave_large.op",
    "crawl_deep": "CrawlJob.step",
    "crawl_concurrent": "CrawlJob.step_all",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _med(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def start_spark(work, cores: int, trace: bool):
    from yacy_grid_crawler_spark.session import get_spark

    local = work.sub("spark-local")
    # SPARK_LOCAL_DIRS overrides spark.local.dir; keep both in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no /tmp/hsperfdata files from the spark-submit launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    driver_mb = max(1024, min(1536, mem_kb // 1024 // 4))
    extra = {
        "spark.driver.memory": f"{driver_mb}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work.sub('java-tmp')} -XX:-UsePerfData",
    }
    if trace:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + work.sub("eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark(app="perfbench", cores=cores, shuffle_partitions=cores,
                     extra=extra)


def stop_spark(spark) -> list[int]:
    """Stop the session, close the JVM and wait for every process it
    started; returns pids that had to be killed."""
    pids = tree_pids()
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
    return stop_tree(pids)


def watchdog(limit_s: float) -> None:
    """Kill the whole process tree if the run overstays `limit_s`."""
    def fire():
        log(f"time limit {limit_s:.0f}s exceeded; stopping")
        stop_tree(tree_pids(), timeout_s=0)
        os._exit(3)

    t = threading.Timer(limit_s, fire)
    t.daemon = True
    t.start()


def measure(w, seconds: float, t_start: float) -> tuple[list, int, int, list[str]]:
    """Timed operations until `seconds` of operation time (at least
    one operation); each checked outside the timed window.
    Returns (results, attempted, failed, errors): an operation that
    raises or whose output fails its check counts as failed."""
    results, attempted, failed, errors = [], 0, 0, []
    measured = 0.0
    while not attempted or measured < seconds:
        if time.perf_counter() - t_start > MEASURE_LIMIT_S:
            break
        attempted += 1
        try:
            res = w.op()
            errs = w.check(res)
        except Exception:
            failed += 1
            errors.append(traceback.format_exc())
            break
        measured += res.complete_s
        res.state["state_bytes"] = dir_bytes(res.store_root)[1]
        shutil.rmtree(res.store_root, ignore_errors=True)
        if errs:
            failed += 1
            errors += errs
        results.append(res)
    return results, attempted, failed, errors


def end_to_end(results: list, setup_s: float, peak_rss_mb: float) -> dict:
    waves = [x for r in results for x in r.waves_s]
    return {
        "setup_s": setup_s,
        "complete_s": _med([r.complete_s for r in results]),
        "urls_per_s": _med([r.counts["extracted"] / r.complete_s for r in results]),
        "wave_p50_s": _med(waves),
        "cpu_s": _med([r.cpu_s for r in results]),
        "peak_rss_mb": peak_rss_mb,
        "state_bytes": _med([r.state["state_bytes"] for r in results]),
    }


def traced_op(w, tracer):
    """One operation with spans installed; returns (result, errors,
    shard_skew)."""
    from yacy_grid_crawler_spark.sources.statestore import StateStore

    tracer.install()
    try:
        with tracer.span(f"{w.name}.op"):
            res = w.op()
    finally:
        tracer.uninstall()
    errs = w.check(res)
    skew = shard_skew(StateStore(w.spark, res.store_root), w.n_shards)
    shutil.rmtree(res.store_root, ignore_errors=True)
    return res, errs, skew


def per_layer(w, tracer, events, traced, untraced, probes, skew, cores):
    values, samples = layer_metrics(tracer, events, WAVE_SPAN[w.name], cores)
    pv, ps = probes
    values.update(pv)
    samples.update(ps)
    c = traced.counts
    n = c["extracted"]
    rejected = c["rejected_filter"] + c["rejected_blacklist"] + c["rejected_robots"]
    for name, num in (
        ("operators.dedup.session_dup_frac", c["deduped_session"]),
        ("operators.dedup.persistent_dup_frac", c["deduped_persistent"]),
        ("operators.filters.reject_frac", rejected),
        ("operators.accept_frac", c["accepted"]),
    ):
        values[name], samples[name] = num / n, n
    values["operators.batching.shard_skew"] = skew
    samples["operators.batching.shard_skew"] = c["accepted"]
    base = _med([r.complete_s for r in untraced])
    values["trace.overhead"] = traced.complete_s / base
    samples["trace.overhead"] = len(untraced)
    return values, samples


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # fails (non-zero exit, no result) outside a checkout of the engine
    import yacy_grid_crawler_spark  # noqa: F401
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    t_start = time.perf_counter()
    watchdog(TIME_LIMIT_S)
    # SIGTERM unwinds through the cleanup below instead of leaving the
    # JVM's work directory behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench")
    work = WorkDir(base)
    if work.leftovers:
        log(f"removed leftovers of earlier runs: {work.leftovers}")
    os.environ["TMPDIR"] = work.sub("tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    cores = len(os.sched_getaffinity(0))
    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": cores,
        "leftovers": work.leftovers, "calib_before": calib(),
    }
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores, bool(args.trace))
        session_s = time.perf_counter() - t0
        w = WORKLOADS[args.workload](spark, work, args.seed, cores)
        t0 = time.perf_counter()
        w.generate()
        gen_s = time.perf_counter() - t0
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            w.setup_inputs()
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        w.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + gen_s + _med(reps) + warm_s
        record["setup"] = {
            "session_s": session_s, "generate_s": gen_s, "inputs_s": reps,
            "warm_up_s": warm_s,
        }
        record["inputs"] = {
            "messy_share": w.corpus.messy_share, "zipf_s": w.corpus.zipf_s,
            "docs": len(w.corpus.doc_ids),
        }

        results, attempted, failed, errors = measure(w, args.seconds, t_start)
        peak_rss = tree_peak_rss_mb()
        if args.trace:
            tracer = Tracer(run_id)
            attempted += 1
            traced, probes = None, ({}, {})
            try:
                traced, errs, skew = traced_op(w, tracer)
                w.probe_inputs()
                probes = operator_probes(w)
            except Exception:
                errs = [traceback.format_exc()]
            if errs:
                failed += 1
                errors += errs
        w.release_inputs()
        killed = stop_spark(spark)
        spark = None
        if killed:
            log(f"killed lingering processes {killed}")

        record["ops"] = [
            {"complete_s": r.complete_s, "waves_s": r.waves_s, "cpu_s": r.cpu_s,
             "state_bytes": r.state["state_bytes"], "counts": r.counts}
            for r in results
        ]
        record["errors"] = errors
        if args.trace:
            values, samples = {}, {}
            if traced is not None and results:
                events = read_event_log(os.path.join(work.path, "eventlog"))
                values, samples = per_layer(
                    w, tracer, events, traced, results, probes, skew, cores
                )
            units = PER_LAYER_UNITS
            os.makedirs(os.path.join(base, "results"), exist_ok=True)
            tracer.dump(os.path.join(base, "results", f"{run_id}.spans.jsonl"))
        else:
            values = end_to_end(results, setup_s, peak_rss) if results else {}
            samples = {
                "setup_s": SETUP_REPS,
                "complete_s": len(results),
                "urls_per_s": len(results),
                "wave_p50_s": sum(len(r.waves_s) for r in results),
                "cpu_s": len(results),
                "peak_rss_mb": 1,
                "state_bytes": len(results),
            }
            units = END_TO_END
        record["samples"] = samples
        record["calib_after"] = calib()
        metrics = {
            k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()
        }
        record["metrics"] = metrics
        os.makedirs(os.path.join(base, "results"), exist_ok=True)
        with open(os.path.join(base, "results", f"{run_id}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        for e in errors:
            log(f"check failed: {e}")
        log(
            "samples per median: "
            + ", ".join(f"{k}={v}" for k, v in samples.items())
            + f"; box load before/after: {record['calib_before']} / {record['calib_after']}"
        )
        out = {
            "correct": failed == 0 and bool(results),
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        sys.stdout.flush()
        print(json.dumps(out), flush=True)
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            work.close()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

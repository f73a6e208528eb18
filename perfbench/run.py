"""CDC apply benchmark.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed``, applies them through the engine's public API for about
``--seconds`` seconds, checks the results against the datagen oracles,
prints a report, and prints as its LAST stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` public calls are wrapped in spans and the metrics are the
per-layer ones. Scratch data goes to ``.perfbench_work/`` in the checkout
and is removed afterwards; the spans and the full report stay there.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import threading
import time
import traceback

T_START = time.perf_counter()
ROOT = os.getcwd()

import common  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

DRIVER_MEMORY = "1g"
DEADLINE_S = 170  # a run that hangs is killed before the 180 s limit
END_TO_END = [
    ("apply_events_per_s", "1/s"), ("freshness_p50_s", "s"), ("freshness_p95_s", "s"),
    ("lookup_mean_s", "s"), ("setup_s", "s"), ("peak_rss_mb", "MB"),
]


class Context:
    """Run-wide state a workload needs: the session, its seed and time
    budget, a scratch directory, and the apply-loop bracket."""

    def __init__(self, spark, seed: int, seconds: int, work: str):
        self.spark, self.seed, self.seconds, self.work = spark, seed, seconds, work
        self.loop_start = self.loop_end = 0.0
        self.jobs_before: set[int] = set()
        self.loop_jobs: set[int] = set()
        self.phases: dict[str, float] = {}

    def repeat_setup(self, setup, out):
        """Run ``setup(dir)`` SETUP_REPS times (same seed, same inputs),
        record each time, keep the first copy."""
        first = None
        for i in range(workloads.SETUP_REPS):
            d = f"{self.work}/setup{i}"
            t0 = time.perf_counter()
            got = setup(d)
            out.setup_reps.append(time.perf_counter() - t0)
            if i == 0:
                first = got
            else:
                workloads.cleanup(d)
        self.mark("setup")
        return first

    def mark(self, phase: str) -> None:
        """Record when a phase ended (seconds since the process started)."""
        self.phases[phase] = time.perf_counter() - T_START

    def begin_loop(self) -> None:
        self.mark("warmup")
        sc = self.spark.sparkContext
        sc.setJobGroup("apply", "apply loop")
        self.jobs_before = tracing.job_ids(sc)
        self.loop_start = time.perf_counter()

    def end_loop(self) -> None:
        self.loop_end = time.perf_counter()
        sc = self.spark.sparkContext
        self.loop_jobs = tracing.job_ids(sc) - self.jobs_before
        self.mark("loop")
        sc.setJobGroup("verify", "verification")


def _stop(spark) -> None:
    """Stop the session, then end the JVM PySpark launched for it and wait
    until it has exited (left alone it exits only after this process)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _overrun() -> None:
    print(f"error: run exceeded {DEADLINE_S} s; aborting", file=sys.stderr, flush=True)
    os._exit(3)  # the Spark JVM exits with its parent's gateway pipe


def _checkout_ok() -> bool:
    return os.path.isfile(os.path.join(ROOT, "french_admin_etl_spark", "__init__.py"))


def end_to_end(out, setup_s: float, rss_mb: float) -> dict:
    m = {
        "apply_events_per_s": out.events / out.apply_wall_s,
        "freshness_p50_s": out.freshness_p50_s,
        "freshness_p95_s": out.freshness_p95_s,
        "lookup_mean_s": sum(out.lookups) / len(out.lookups),
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
    }
    units = dict(END_TO_END)
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}


def per_layer(out, tracer, ctx, sc_metrics: dict) -> dict:
    summ = tracer.layer_summary("MainThread", ctx.loop_start, ctx.loop_end)

    def total(name):
        return summ["layers"].get(name, {}).get("total_s", 0.0)

    def in_loop(name):
        return [s for s in tracer.spans_named(name) if ctx.loop_start <= s["start"] <= ctx.loop_end]

    applies = in_loop("streaming.apply.apply_batch")
    merges_under_apply = [
        s for s in tracer.spans_named("table.lake_table.merge")
        if s["parent"] in {a["id"] for a in applies}
    ]
    apply_total = sum(s["end"] - s["start"] for s in applies)
    windows = in_loop("streaming.dag.apply_window")
    events_in = sum(r.n_events for r in out.batch_results)
    rejects = sum(r.n_rejects for r in out.batch_results)
    merged = sum(
        r.merge.rows_upserted + r.merge.rows_deleted
        for r in out.batch_results if r.merge is not None and not r.merge.fenced
    )
    n_batches = len(applies) or len(windows) or 1
    loop = [s for s in tracer.spans if ctx.loop_start <= s["start"] <= ctx.loop_end]
    loop_names = {}
    for s in loop:
        loop_names.setdefault(s["name"], []).append(s["end"] - s["start"])
    m = {
        "event_log.max_lsn_calls": (len(loop_names.get("sources.event_log.max_lsn", [])), "count"),
        "event_log.max_lsn_s": (sum(loop_names.get("sources.event_log.max_lsn", [])), "s"),
        "event_log.lag_events_max": (max(out.lag_samples, default=0), "count"),
        "apply.batches": (len(applies), "count"),
        "apply.batch_mean_s": (apply_total / len(applies) if applies else 0.0, "s"),
        "apply.self_s": (apply_total - sum(s["end"] - s["start"] for s in merges_under_apply), "s"),
        "apply.events_in": (events_in, "count"),
        "apply.rejects": (rejects, "count"),
        "dedup.keep_ratio": (merged / max(1, events_in - rejects), "ratio"),
        "lake_table.merge_calls": (len(loop_names.get("table.lake_table.merge", [])), "count"),
        "lake_table.merge_s": (sum(loop_names.get("table.lake_table.merge", [])), "s"),
        "lake_table.compact_calls": (len(loop_names.get("table.lake_table.compact", [])), "count"),
        "lake_table.compact_s": (sum(loop_names.get("table.lake_table.compact", [])), "s"),
        "lake_table.final_read_s": (common.median(out.final_reads), "s"),
        "lake_table.write_amp": (out.data_bytes_written / out.log_bytes, "ratio"),
        "lake_table.bytes_per_live_row": (out.snapshot_bytes / out.live_rows, "B"),
        "lake_table.files_written": (out.data_files_written, "count"),
        "lake_table.bytes_written": (out.data_bytes_written, "B"),
        "lake_table.delta_groups_end": (out.detail["delta_groups_end"], "count"),
        "lake_table.snapshot_calls": (len(loop_names.get("table.lake_table.snapshot", [])), "count"),
        "lake_table.lookup_s": (total("table.lake_table.lookup"), "s"),
        "lake_table.read_s": (total("table.lake_table.read"), "s"),
        "checkpoint.save_calls": (len(loop_names.get("streaming.checkpoint.save", [])), "count"),
        "checkpoint.save_s": (sum(loop_names.get("streaming.checkpoint.save", [])), "s"),
        "dag.windows": (len(windows), "count"),
        "dag.window_mean_s": (sum(s["end"] - s["start"] for s in windows) / len(windows) if windows else 0.0, "s"),
        "dag.fk_check_s": (total("streaming.dag.deep_fk_check"), "s"),
        "spark.jobs_per_batch": (len(ctx.loop_jobs) / n_batches, "count"),
        "spark.tasks_per_batch": (sc_metrics["tasks"] / n_batches, "count"),
        "spark.shuffle_write_bytes": (sc_metrics["shuffle_write_bytes"], "B"),
        "spark.spill_bytes": (sc_metrics["spill_bytes"], "B"),
        "spark.executor_run_s": (sc_metrics["executor_run_s"], "s"),
        "spark.gc_s": (sc_metrics["gc_s"], "s"),
        "trace.overhead_s": (tracer.overhead_s, "s"),
        "trace.loop_unaccounted_s": (summ["loop_unaccounted_s"], "s"),
        "trace.apply_events_per_s": (out.events / out.apply_wall_s, "1/s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, summ


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _checkout_ok():
        print(f"error: no french_admin_etl_spark package under {ROOT}; run from a checkout root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    out_dir = os.path.join(ROOT, ".perfbench_work")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(out_dir, tag)
    workloads.cleanup(work)
    os.makedirs(f"{work}/tmp")
    # every scratch byte Spark and Python write stays in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/tmp"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"

    watchdog = threading.Timer(DEADLINE_S, _overrun)
    watchdog.daemon = True
    watchdog.start()
    host = common.host_state()
    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        os.makedirs(f"{work}/eventlog")
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.ui.retainedJobs": "100000",
        })
    tracer = tracing.Tracer(tag) if args.trace else None
    from french_admin_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{tag}", cores=host["nproc"], driver_memory=DRIVER_MEMORY, extra_conf=extra)
    spark.range(1).count()  # the session is ready once its scheduler has run a job
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setJobGroup("setup", "setup")
    ctx = Context(spark, args.seed, args.seconds, work)
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    try:
        if tracer:
            tracer.install()
        try:
            out = workloads.RUNNERS[args.workload](ctx, workloads.WORKLOADS[args.workload])
        finally:
            if tracer:
                tracer.uninstall()
        ctx.mark("verify")
        rss_mb = common.vm_hwm_mb() + common.vm_hwm_mb(jvm_pid)
        setup_s = session_s + common.median(out.setup_reps) + out.bootstrap_s
    except Exception:
        traceback.print_exc()
        _stop(spark)
        return 1
    _stop(spark)
    ctx.mark("stop")

    if tracer:
        sc_metrics = tracing.event_log_totals(f"{work}/eventlog", ctx.loop_jobs)
        metrics, summ = per_layer(out, tracer, ctx, sc_metrics)
        tracer.write(os.path.join(out_dir, f"{tag}.spans.jsonl"))
    else:
        metrics, summ = end_to_end(out, setup_s, rss_mb), None
    correct = out.failed == 0
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": host, "session_s": session_s, "phases_end_s": ctx.phases, "setup_reps_s": out.setup_reps, "bootstrap_s": out.bootstrap_s,
        "samples": {"freshness": len(out.freshness), "lookups": len(out.lookups), "final_reads": len(out.final_reads)},
        "final_reads_s": out.final_reads,
        "failed_ratio": out.failed / max(1, out.attempted), "checks": out.checks, "detail": out.detail,
        "metrics": metrics,
    }
    if summ:
        report["layers"] = summ["layers"]
        report["loop"] = {k: v for k, v in summ.items() if k != "layers"}
    with open(os.path.join(out_dir, f"{tag}.report.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    workloads.cleanup(work)

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} host={json.dumps(host)}")
    for name, c in out.checks.items():
        info = ", ".join(f"{k}={v}" for k, v in c.items() if k not in ("attempted", "failed"))
        print(f"# check {name}: {c['attempted'] - c['failed']}/{c['attempted']} ok" + (f" ({info})" if info else ""))
    print(f"# failed_ratio {report['failed_ratio']:.6f} ({out.failed}/{out.attempted}) -> {'CORRECT' if correct else 'INCORRECT'}")
    fresh_of = {"tail": "segments", "dag": "window commits"}[args.workload]
    print(f"# samples: freshness n={len(out.freshness)} {fresh_of}, lookups n={len(out.lookups)}, final reads n={len(out.final_reads)}, setup reps n={len(out.setup_reps)}")
    for k, v in metrics.items():
        print(f"# {k:28s} {v['value']:.6g} {v['unit']}")
    watchdog.cancel()
    print(json.dumps({"correct": correct, "attempted": out.attempted, "failed": out.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

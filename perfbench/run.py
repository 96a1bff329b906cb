"""Closed-loop, single-client benchmark of the engine at local[nproc].

Run from the repository root::

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

One run:

1. imports the engine, stamps the host (external busy cores, CPU
   calibration; ``bench.py``'s helpers) and builds the inputs — neither
   stamping nor inputs count as set-up;
2. sets up once: ``get_spark`` (the JVM launch) plus one untimed warm
   round, whose analytics results are checked. ``setup_s`` runs from
   interpreter start to the end of that warm round, input generation
   excluded;
3. runs the timed pass with tracing off: whole rounds of the workload's
   requests. ``wall_s`` is its wall time (the ETL only, for
   ``era5_etl_serve``), the latency figures are over its requests, and
   ``peak_rss_mb`` is the process tree's peak during it;
4. with ``--trace 1``, stops the session, sets up a traced one (job group
   per request, uncompressed event log, status tracker) and runs one more
   round; per-layer numbers come from it, and its wall time minus the
   untraced pass's median round is the tracing overhead;
5. stops every process it started, prints a report, then the result JSON
   as the last line of standard output.

The exit code is 0 only when the run completed; wrong results are
reported as failures in the JSON, not by the exit code.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def process_age_s() -> float:
    """Seconds since this interpreter was exec'd (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def host_hygiene(work: str) -> int:
    """Environment for the JVM and its Python workers; returns nproc."""
    cpus = len(os.sched_getaffinity(0))
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # one thread per task: local[nproc] already fills every core
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    return cpus


def count_jobs(tracer, outcomes) -> None:
    """Status-tracker jobs, stages and tasks per traced request (session live)."""
    for o in outcomes:
        jobs = tracer.jobs(o.req)
        action_jobs = jobs[o.layers.get("build_jobs", 0):]
        o.layers["action_jobs"] = len(action_jobs)
        o.layers["stages"], o.layers["tasks"] = tracer.stage_counts(action_jobs)


def layer_metrics(outcomes, events_dir: str, workload) -> dict[str, float]:
    """Sum the traced round's per-request layer numbers (session stopped)."""
    from harness import event_log_task_metrics, worst_stage_skew

    tasks = event_log_task_metrics(events_dir)
    m = dict.fromkeys(metric_units("per_layer"), 0.0)
    stage_runs, serve_jobs = [], []
    for o in outcomes:
        m["entry.build_s"] += o.layers.get("build_s", 0.0)
        m["entry.build_jobs"] += o.layers.get("build_jobs", 0)
        m["exec.action_s"] += o.layers.get("action_s", 0.0)
        m["exec.jobs"] += o.layers["action_jobs"]
        m["exec.stages"] += o.layers["stages"]
        m["exec.tasks"] += o.layers["tasks"]
        if o.name == "query":
            serve_jobs.append(o.layers["action_jobs"])
        t = tasks.get(o.req)
        if t:
            m["task.run_s"] += t["run_s"]
            m["task.cpu_s"] += t["cpu_s"]
            m["task.gc_s"] += t["gc_s"]
            m["scan.input_mb"] += t["input_mb"]
            m["scan.input_records"] += t["input_records"]
            m["shuffle.read_mb"] += t["shuffle_read_mb"]
            m["shuffle.write_mb"] += t["shuffle_write_mb"]
            stage_runs += t["stage_run_s"].values()
    m["task.python_s"] = max(0.0, m["task.run_s"] - m["task.cpu_s"])
    m["task.skew"] = worst_stage_skew(stage_runs)
    if serve_jobs:
        m["serve.jobs_per_query"] = sum(serve_jobs) / len(serve_jobs)
    m.update(workload.layer_extras(outcomes, tasks))
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    # the program's own imports are part of set-up
    import __spark_entry__  # noqa: F401
    import big_data_in_agriculture_spark.cli  # noqa: F401

    import bench
    from harness import (NullTracer, Tracer, TreeMonitor, shutdown,
                         start_session, tail)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    boot_s = process_age_s()

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        cpus = host_hygiene(work)
        stamps = {"cpus": cpus, "busy_cores": round(bench._external_busy_cores(), 3),
                  **bench._cpu_calibration()}
        workload = WORKLOADS[args.workload](work, os.path.join(state, "cache"),
                                            args.seed, args.seconds)
        app = f"perfbench-{workload.name}"

        t0 = time.perf_counter()
        spark = start_session(app, cpus, work, trace=False)
        get_spark_s = time.perf_counter() - t0
        warmup_s = workload.warm(spark, "setup", check=True)
        setup = {"boot_s": boot_s, "get_spark_s": get_spark_s, "warmup_s": warmup_s}
        with TreeMonitor() as rss:
            outcomes, walls = workload.timed(spark, NullTracer(), "timed",
                                             workload.rounds)
        stored_bytes = getattr(workload, "stored_bytes", 0)

        if args.trace:
            tracer = Tracer()
            spark.stop()
            with tracer.span("session.get_spark"):
                spark = start_session(app, cpus, work, trace=True)
            with tracer.span("session.warmup"):
                workload.warm(spark, "traced", check=False)
            tracer.bind(spark)
            traced_outcomes, traced_walls = workload.timed(spark, tracer, "traced", 1)
            count_jobs(tracer, traced_outcomes)
        shutdown(spark)
        spark = None
        if args.trace:  # the event log is complete once the session stopped
            layers = layer_metrics(traced_outcomes, os.path.join(work, "events"),
                                   workload)
            layers["session.get_spark_s"] = get_spark_s
            layers["session.warmup_s"] = warmup_s
            layers["trace.overhead_s"] = traced_walls[0] - statistics.median(walls)

        lat = [o.latency_s for o in outcomes
               if workload.SERVED in (None, o.name)]
        tail_pct, tail_s = tail(lat)
        units = metric_units("end_to_end")
        e2e = {
            "setup_s": boot_s + get_spark_s + warmup_s,
            "wall_s": sum(walls),
            "query_p50_s": statistics.median(lat),
            "query_tail_s": tail_s,
            "peak_rss_mb": rss.peak / 1e6,
        }
        reported = outcomes + (traced_outcomes if args.trace else [])
        failed = [o for o in reported if not o.ok]
        print(f"workload={workload.name} seed={args.seed} trace={args.trace} "
              + " ".join(f"{k}={v}" for k, v in stamps.items()))
        print(f"setup: interpreter+imports {boot_s:.3f}s, get_spark "
              f"{get_spark_s:.3f}s, warm round {warmup_s:.3f}s")
        print("rounds: " + ", ".join(f"{w:.3f}s" for w in walls))
        for k, v in e2e.items():
            note = ""
            if k == "query_tail_s":
                note = f"  (p{tail_pct:.1f} of n={len(lat)})"
            elif k == "query_p50_s":
                note = f"  (n={len(lat)})"
            print(f"  {k:<20} {v:12.4f} {units[k]}{note}")
        print(f"  {'failed_frac':<20} {len(failed) / len(reported):12.4f} "
              f"ratio  ({len(failed)}/{len(reported)})")
        if stored_bytes:
            print(f"  {'stored_bytes_ratio':<20} "
                  f"{stored_bytes / workload.input_bytes:12.4f} ratio")
        for o in failed:
            print(f"  FAILED {o.req}: {o.error}")
        if args.trace:
            for k, v in sorted(layers.items()):
                print(f"  {k:<34} {v:12.4f}")
            metrics = {k: {"value": layers[k], "unit": u}
                       for k, u in metric_units("per_layer").items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
        record = {
            "stamps": stamps, "input_bytes": workload.input_bytes,
            "setup": setup, "round_walls": walls, "end_to_end": e2e,
            "tail_percentile": tail_pct,
            "requests": [[o.req, o.latency_s, o.error] for o in outcomes],
        }
        if args.trace:
            record.update(layers=layers, spans=tracer.spans, traced_requests=[
                [o.req, o.latency_s, o.error] for o in traced_outcomes])
        os.makedirs(os.path.join(state, "runs"), exist_ok=True)
        with open(os.path.join(state, "runs", f"{workload.name}-seed{args.seed}"
                               f"-trace{args.trace}.json"), "w") as fh:
            json.dump(record, fh, default=str)
        print(json.dumps({"correct": not failed, "attempted": len(reported),
                          "failed": len(failed), "metrics": metrics}))
        return 0
    finally:
        if spark is not None:  # a run that raised still ends its processes
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

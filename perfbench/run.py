"""Benchmark of cliqz_etl_spark's two production jobs and its query registry.

    python3 perfbench/run.py --workload run_day --seed 1 --seconds 10 --trace 0

One closed-loop client drives one Spark session on local[<nproc>]:
generate the seeded inputs, set up (get_spark + warm_python_workers + one
untimed warm-up iteration), run timed iterations for --seconds, check every
iteration's output, and print one JSON object as the last stdout line.
--trace 0 reports the end-to-end metrics; --trace 1 runs a separate traced
session (spans around the program's public functions, Spark event log,
streaming listener, Catalyst phases) and reports the per-layer metrics.
All files live under .bench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
# iterations per run = --seconds / NOMINAL_JOB_S: roughly one warm job of
# any workload on a 4-core host
NOMINAL_JOB_S = 5.0
# Host-speed probes (procstat.host_probe) before the session starts and
# after it stops. The end-to-end times are reported in seconds of a host
# on which the probe's median takes PROBE_REF_S: raw seconds times
# PROBE_REF_S / probe, so that a rerun in a slower or faster phase of a
# shared host compares with the first (README.md, "Host speed").
# PROBE_REF_S is the probe's median in the first runs on the 4-vCPU VM
# of README.md.
PROBES = 5
PROBE_REF_S = 0.23
DRIVER_MEM = "2g"


def _env(run_dir: str) -> None:
    """Process-wide settings that must precede the JVM / worker launch."""
    # Python workers import cliqz_etl_spark (the AES fallback UDF and the
    # registry's pandas UDFs): they see PYTHONPATH, not our sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # A fixed heap, set unconditionally so an inherited value cannot
    # change the figures. get_spark's default (70% of RAM, 11g on a 15 GB
    # host) lets the JVM grow its heap lazily, so peak RSS depends on when
    # collections happen (README.md, "Driver heap").
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def _spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cliqz_etl_spark", "cli.py")):
        print(f"perfbench: no cliqz_etl_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    # a SIGTERM unwinds through main's finally, which ends the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _env(run_dir)
    sys.path.insert(0, HERE)
    import procstat
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        return _run(args, run_dir, workloads, procstat)
    finally:
        _shutdown(procstat)
        shutil.rmtree(run_dir, ignore_errors=True)


def _shutdown(procstat) -> None:
    """Stop the Spark session, end the JVM it runs in and wait until the
    JVM and every process under it (the Python workers) have exited, so
    that no process of this run outlives it. Safe to call twice."""
    from pyspark import SparkContext

    procs = procstat.tree()
    procs.pop(os.getpid(), None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()  # also stops the py4j callback server
        except Exception:  # noqa: BLE001 - the JVM is ended below anyway
            traceback.print_exc(file=sys.stderr)
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # pyspark's gateway JVM exits when its stdin reaches EOF
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    killed = procstat.wait_ended(procs)
    if killed:
        print(f"perfbench: killed processes that did not exit: {killed}",
              file=sys.stderr)


def _run(args, run_dir, workloads, procstat) -> int:
    wl = workloads.WORKLOADS[args.workload]()
    inputs = os.path.join(WORK, "inputs", args.workload, str(args.seed))
    os.makedirs(inputs, exist_ok=True)
    properties = wl.prepare(inputs, args.seed)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "properties": properties}), file=sys.stderr)

    from cliqz_etl_spark import session

    tracer = None
    if args.trace:
        import tracing
        tracer = tracing.Tracer()
        tracer.install()

    ncpu = len(os.sched_getaffinity(0))
    probes = [procstat.host_probe(ncpu) for _ in range(PROBES)]
    t0 = time.perf_counter()
    spark = session.get_spark(f"perfbench-{args.workload}",
                              master=f"local[{ncpu}]",
                              extra_conf=_spark_conf(run_dir, bool(args.trace)))
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    session.warm_python_workers(spark, ncpu)
    t2 = time.perf_counter()
    print(json.dumps({"session": {
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory")}}),
        file=sys.stderr)

    listener = None
    if tracer is not None:
        listener = tracing.stream_listener()
        spark.streams.addListener(listener)

    ctx = workloads.Context(spark, run_dir)
    attempted = failed = 0
    problems: list[str] = []

    def one(it: int, traced: bool) -> dict | None:
        nonlocal attempted, failed
        ctx.iteration = it
        if tracer is not None:
            tracer.iteration = it
            tracer.install() if traced else tracer.uninstall()
        ctx.tracer = tracer if traced else None
        attempted += 1
        with procstat.PeakRss() as rss:
            cpu0, w0 = procstat.cpu_seconds(), time.perf_counter()
            try:
                if traced:
                    with tracer.span("bench.iteration"):
                        out = wl.iterate(ctx)
                else:
                    out = wl.iterate(ctx)
            except Exception:  # noqa: BLE001 - a failed job is a result
                traceback.print_exc(file=sys.stderr)
                failed += 1
                return None
            wall = time.perf_counter() - w0
            cpu = procstat.cpu_seconds() - cpu0
        print(json.dumps({"iteration": it, "traced": traced,
                          "wall_s": round(wall, 3), "cpu_s": round(cpu, 2),
                          "peak_rss_mb": round(rss.peak / (1 << 20))}),
              file=sys.stderr)
        try:
            bad = wl.check(out)
        except Exception as e:  # noqa: BLE001 - unreadable output fails
            bad = [f"check raised {e!r}"]
        if bad:
            failed += 1
            problems.extend(f"iteration {it}: {b}" for b in bad)
        return {**out, "iteration": it, "traced": traced, "wall_s": wall,
                "cpu_s": cpu, "peak_rss_mb": rss.peak / (1 << 20)}

    # setup: cold session + workers + one untimed (but checked) iteration;
    # tracing stays on through setup so session spans are recorded
    one(-1, traced=tracer is not None)
    setup_s = time.perf_counter() - t0

    # timed closed loop: a fixed number of iterations, --seconds divided by
    # a nominal job time, so every run (and every commit)
    # compares the same iterations of the JIT warm-up curve. With
    # --trace 1 the iterations run untraced, traced, traced, untraced, so
    # the tracing overhead is measured in one session and the warm-up
    # drift cancels out of it
    n = max(4 if args.trace else 1, round(args.seconds / NOMINAL_JOB_S))
    results = []
    for it in range(n):
        r = one(it, traced=tracer is not None and it % 4 in (1, 2))
        if r is not None:
            results.append(r)
    for prob in problems:
        print(f"perfbench: CHECK FAILED {prob}", file=sys.stderr)

    if tracer is not None:
        tracer.uninstall()
        metrics = _layer_metrics(args, tracer, listener, ctx, results,
                                 t1 - t0, t2 - t1, spark, run_dir, workloads)
        metrics["inputs.bytes"] = (tracing.tree_size(inputs)[0], "bytes")
    else:
        raw = {"setup_s": setup_s,
               "peak_rss_mb": max((r["peak_rss_mb"] for r in results), default=0.0)}
        for key in ("wall_s", "cpu_s", "out_bytes"):
            raw[key] = _median([r[key] for r in results])
    # the probes after the run see a host without this run's processes
    _shutdown(procstat)
    probes += [procstat.host_probe(ncpu) for _ in range(PROBES)]
    probe_s = _median(probes)
    if tracer is not None:
        metrics["host.probe_s"] = (probe_s, "s")
    else:
        print(json.dumps({"raw": raw, "probes_s": probes}), file=sys.stderr)
        scale = PROBE_REF_S / probe_s
        metrics = {"setup_s": (raw["setup_s"] * scale, "s"),
                   "wall_s": (raw["wall_s"] * scale, "s"),
                   "cpu_s": (raw["cpu_s"] * scale, "s"),
                   "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
                   "out_bytes": (raw["out_bytes"], "bytes")}
    print(json.dumps({
        "correct": failed == 0 and not problems and bool(results),
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _layer_metrics(args, tracer, listener, ctx, results, start_s, warm_s,
                   spark, run_dir, workloads) -> dict:
    import tracing

    traced = [r for r in results if r["traced"]]
    plain = [r for r in results if not r["traced"]]
    its = [r["iteration"] for r in traced]
    windows = {r["iteration"]: None for r in traced}
    for s in tracer.spans:
        if s["name"] == "bench.iteration" and s["iteration"] in windows:
            windows[s["iteration"]] = (s["start"], s["end"])
    time.sleep(0.5)  # let the last listener callbacks arrive
    batches = list(listener.batches)
    spark.stop()  # flushes the event log
    jobs = tracing.parse_event_log(os.path.join(run_dir, "eventlog"),
                                   ctx.phases)

    def per_it(fn) -> float:
        return _median([fn(i) for i in its])

    def spans(i, name):
        return [s for s in tracer.spans
                if s["iteration"] == i and s["name"] == name]

    def span_s(i, name):
        return sum(s["end"] - s["start"] for s in spans(i, name))

    def under(i, parent_prefix, name):
        """Spans ``name`` nested (at any depth) under a span whose name
        starts with ``parent_prefix``, in iteration ``i``."""
        out = []
        for s in spans(i, name):
            p = s["parent"]
            while p is not None:
                if tracer.spans[p]["name"].startswith(parent_prefix):
                    out.append(s)
                    break
                p = tracer.spans[p]["parent"]
        return out

    def job_sum(i, key, phase_prefix=""):
        return sum(j[key] if key != "n" else 1 for j in jobs
                   if j["phase"] and j["phase"].startswith(f"{i}/{phase_prefix}"))

    def stream_sum(i, key):
        lo, hi = windows[i]
        return sum((d.get(key, 0) / 1000.0 if key != "n" else 1)
                   for t, _, d in batches if lo <= t <= hi)

    m = {
        "session.start_s": (start_s, "s"),
        "session.warm_s": (warm_s, "s"),
        "cli.job_s": (per_it(lambda i: span_s(i, "cli.cmd_run_day")
                             + span_s(i, "cli.cmd_build_corpus")), "s"),
        "cli.recount_s": (per_it(lambda i: sum(
            s["end"] - s["start"] for s in under(i, "cli.", "dataframe.count"))), "s"),
        "cli.actions_n": (per_it(lambda i: len(under(i, "cli.", "dataframe.count"))), "count"),
        "pipelines.testpilot.run_day_s": (per_it(lambda i: span_s(i, "pipelines.testpilot.run_day")), "s"),
        "pipelines.profile_daily.build_s": (per_it(lambda i: span_s(i, "pipelines.profile_daily.profile_daily")), "s"),
        "io.write_parquet_s": (per_it(lambda i: span_s(i, "io.write_parquet")), "s"),
        "io.write_parquet_n": (per_it(lambda i: len(spans(i, "io.write_parquet"))), "count"),
        "io.write_jsonl_shards_s": (per_it(lambda i: span_s(i, "io.write_jsonl_shards")), "s"),
        "io.bytes_written": (per_it(lambda i: sum(
            s.get("bytes", 0) for n in tracing.WRITERS for s in spans(i, n))), "bytes"),
        "io.files_written": (per_it(lambda i: sum(
            s.get("files", 0) for n in tracing.WRITERS for s in spans(i, n))), "count"),
        "operators.dedup.span_dedup_s": (per_it(lambda i: span_s(i, "operators.dedup.span_dedup")), "s"),
        "operators.cache.release_all_s": (per_it(lambda i: span_s(i, "operators.cache.release_all")), "s"),
        "operators.cache.released_n": (per_it(lambda i: sum(
            s.get("released") or 0 for s in spans(i, "operators.cache.release_all"))), "count"),
        "queries.build_s": (per_it(lambda i: span_s(i, "bench.build")), "s"),
        "queries.build_jobs_n": (per_it(lambda i: job_sum(i, "n", "build:")), "count"),
        "queries.collect_s": (per_it(lambda i: span_s(i, "bench.collect")), "s"),
    }
    for n in workloads.QUERY_MIX:
        m[f"queries.{n}.s"] = (_median([r.get("per_query", {}).get(n, {}).get("s", 0.0)
                                        for r in traced]), "s")
    for ph in ("analysis", "optimization", "planning"):
        m[f"spark.catalyst.{ph}_s"] = (per_it(lambda i: ctx.catalyst.get(i, {}).get(ph, 0.0)), "s")
    m["streaming.batches_n"] = (per_it(lambda i: stream_sum(i, "n")), "count")
    for key, name in (("addBatch", "add_batch_s"), ("queryPlanning", "query_planning_s"),
                      ("walCommit", "wal_commit_s"), ("commitOffsets", "commit_offsets_s")):
        m[f"streaming.{name}"] = (per_it(lambda i: stream_sum(i, key)), "s")
    for key, name, unit in (
            ("n", "jobs_n", "count"), ("stages", "stages_n", "count"),
            ("tasks", "tasks_n", "count"), ("run_s", "executor_run_s", "s"),
            ("cpu_s", "executor_cpu_s", "s"), ("gc_s", "gc_s", "s"),
            ("input_bytes", "input_bytes", "bytes"),
            ("input_records", "input_records", "count"),
            ("shuffle_read_bytes", "shuffle_read_bytes", "bytes"),
            ("shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
            ("spill_bytes", "spill_bytes", "bytes"),
            ("python_eval_s", "python_eval_s", "s"),
            ("python_rows", "python_rows", "count"),
            ("task_failures", "task_failures_n", "count")):
        m[f"spark.{name}"] = (per_it(lambda i: job_sum(i, key)), unit)
    for layer in ("bench", "cli", "pipelines", "io", "operators", "dataframe"):
        m[f"self.{layer}_s"] = (per_it(lambda i: tracer.self_time_by_layer(i).get(layer, 0.0)), "s")
    m["trace.overhead_s"] = (_median([r["wall_s"] for r in traced])
                             - _median([r["wall_s"] for r in plain]), "s")
    tracer.dump(os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.jsonl"))
    return m


if __name__ == "__main__":
    sys.exit(main())

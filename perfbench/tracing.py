"""Per-layer tracing from outside the program.

- ``Tracer`` keeps spans in memory (name, start, end, parent, iteration)
  and, while installed, wraps the public functions in ``WRAPPED`` plus
  ``DataFrame.count`` so every call records a span. Wrapping rebinds the
  name in every loaded ``cliqz_etl_spark`` module that imported it, so
  call sites that did ``from cliqz_etl_spark.io import write_parquet``
  at import time are traced too.
- ``StreamProgress`` is a StreamingQueryListener collecting each
  micro-batch's ``durationMs`` breakdown.
- ``catalyst_phases`` reads a DataFrame's analysis / optimization /
  planning times from its ``QueryExecution`` tracker.
- ``parse_event_log`` turns the Spark event log into per-job task
  totals, attributed to benchmark phases by job group or, for jobs Spark
  runs under its own group (streaming micro-batches), by submission time.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import glob
import importlib
import json
import os
import re
import sys
import time
from collections import defaultdict

WRAPPED = {
    "cliqz_etl_spark.session": ["get_spark", "warm_python_workers"],
    "cliqz_etl_spark.cli": ["cmd_run_day", "cmd_build_corpus"],
    "cliqz_etl_spark.pipelines.testpilot": ["run_day"],
    "cliqz_etl_spark.pipelines.profile_daily": ["profile_daily"],
    "cliqz_etl_spark.io": ["read_json", "read_csv", "read_parquet",
                           "read_text_scalar", "write_parquet",
                           "write_jsonl_shards"],
    "cliqz_etl_spark.operators.dedup": ["span_dedup"],
    "cliqz_etl_spark.operators.cache": ["release_all"],
}
WRITERS = {"io.write_parquet", "io.write_jsonl_shards"}


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, Spark's hidden/marker files
    (``_SUCCESS``, ``.crc``) excluded."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.iteration = -1
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "iteration": self.iteration}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if name in WRITERS:
                    path = kwargs.get("path", args[1] if len(args) > 1 else None)
                    rec["bytes"], rec["files"] = tree_size(path)
                elif name == "operators.cache.release_all":
                    rec["released"] = out
                return out
        return traced

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame as Classic

        if self._patched:
            return
        for mod_name, names in WRAPPED.items():
            mod = importlib.import_module(mod_name)
            span_prefix = mod_name.removeprefix("cliqz_etl_spark.")
            for n in names:
                orig = getattr(mod, n)
                wrapper = self._wrap(f"{span_prefix}.{n}", orig)
                for m in list(sys.modules.values()):
                    if (getattr(m, "__name__", "").startswith("cliqz_etl_spark")
                            and getattr(m, n, None) is orig):
                        self._patched.append((m, n, orig))
                        setattr(m, n, wrapper)
        self._patched.append((Classic, "count", Classic.count))
        Classic.count = self._wrap("dataframe.count", Classic.count)

    def uninstall(self) -> None:
        while self._patched:
            obj, n, orig = self._patched.pop()
            setattr(obj, n, orig)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")

    def self_time_by_layer(self, iteration: int) -> dict[str, float]:
        """Span duration minus the time its child spans cover, summed per
        layer (the first dotted component of the span name). Spans nest
        strictly (one thread), so children never overlap."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["iteration"] == iteration and s["end"] is not None:
                layer = s["name"].split(".")[0]
                out[layer] += s["end"] - s["start"]
                if s["parent"] is not None:
                    p = self.spans[s["parent"]]
                    out[p["name"].split(".")[0]] -= s["end"] - s["start"]
        return dict(out)


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase (analysis / optimization / planning)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out, it = {}, phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def stream_listener():
    """A StreamingQueryListener recording (trigger time, input rows,
    durationMs) per micro-batch into its ``batches`` list."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple[float, int, dict]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ts = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            self.batches.append((ts.timestamp(), p.numInputRows,
                                 dict(p.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamProgress()


_PY_NODE = re.compile(r"Python|Pandas|Arrow")


def _python_row_accumulators(plan: dict, out: set) -> None:
    """Accumulator ids of 'number of output rows' on Python-evaluating
    plan nodes (ArrowEvalPython, MapInPandas, BatchEvalPython, ...)."""
    if _PY_NODE.search(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for c in plan.get("children", []):
        _python_row_accumulators(c, out)


def parse_event_log(log_dir: str, phases: list[tuple[str, float, float]]
                    ) -> list[dict]:
    """One record per job: {phase, stages, tasks, <task metric totals>}.
    ``phases`` are (name, start, end) windows in epoch seconds; a job is
    attributed to the phase named by its ``pb:`` job group, else to the
    phase whose window holds its submission time (None if none does)."""
    jobs, stage_job, py_rows_ids = {}, {}, set()
    stage_tasks: dict[int, list[dict]] = defaultdict(list)
    submitted = set()
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jobs[e["Job ID"]] = {"submitted": e["Submission Time"] / 1000.0,
                                         "group": group}
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, e["Job ID"])
                elif kind == "SparkListenerStageSubmitted":
                    submitted.add(e["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    stage_tasks[e["Stage ID"]].append(e)
                elif kind.endswith(("SQLExecutionStart",
                                    "SQLAdaptiveExecutionUpdate")):
                    _python_row_accumulators(e.get("sparkPlanInfo", {}),
                                             py_rows_ids)

    def phase_of(job: dict) -> str | None:
        if job["group"].startswith("pb:"):
            return job["group"][3:]
        for name, start, end in phases:
            if start <= job["submitted"] <= end:
                return name
        return None

    recs = {jid: {"phase": phase_of(j), "stages": 0, "tasks": 0,
                  "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "input_bytes": 0,
                  "input_records": 0, "shuffle_read_bytes": 0,
                  "shuffle_write_bytes": 0, "spill_bytes": 0,
                  "python_eval_s": 0.0, "python_rows": 0,
                  "task_failures": 0}
            for jid, j in jobs.items()}
    for sid, jid in stage_job.items():
        if sid in submitted:
            recs[jid]["stages"] += 1
        for t in stage_tasks.get(sid, ()):
            r = recs[jid]
            r["tasks"] += 1
            if t["Task End Reason"]["Reason"] != "Success":
                r["task_failures"] += 1
            m = t.get("Task Metrics") or {}
            r["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            r["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            r["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            inp = m.get("Input Metrics") or {}
            r["input_bytes"] += inp.get("Bytes Read", 0)
            r["input_records"] += inp.get("Records Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            r["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            for a in t["Task Info"].get("Accumulables", []):
                if a.get("Name") == "time to run Python workers":
                    r["python_eval_s"] += int(a.get("Update", 0)) / 1000.0
                elif a.get("ID") in py_rows_ids:
                    r["python_rows"] += int(a.get("Update", 0))
    return list(recs.values())

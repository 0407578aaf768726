"""Traced mode: spans recorded from the benchmark's own files, joined to
the Spark event log, folded into the per-layer metrics.

Spans nest workload -> pass -> op -> {build, sink} for the query
workloads; the refresh adds spans around the lifecycle calls it makes
through the package (``preflight``, ``VersionedTable.write_version`` /
``read_current`` / ``vacuum`` per model, ``data_tests``). Spans live in
memory and are written out when the run ends. Event-log jobs and stages
are joined to spans by time interval: a job belongs to the op whose span
contains its submission time, and its interval, clipped to a span, is
that span's time in Spark jobs. Each op also tags the jobs it starts with
a local property, so the join can be checked against the tags.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from pathlib import Path

MB = 1e6
OP_TAG = "perfbench.op"  # local property: the id of the op span that started a job

# Every per-layer metric with its unit; BENCHMARK.json lists the same
# names. Values are per-pass totals, median over the run's passes. The
# comment names the end-to-end metric each should move, and where.
LAYER_UNITS = {
    "session.get_spark_s": "s",  # setup_s, all workloads
    "queries.build_s": "s",  # time inside spec.spark: wall_s, op_p50_s
    "queries.py4j_calls": "count",  # py4j commands sent during build
    "catalog.load_table_s": "s",  # op_p50_s
    "catalog.load_table_calls": "count",
    "catalyst.plan_s": "s",  # sink call to first job start: op_p50_s
    "exec.jobs": "count",  # op_p50_s
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.jobs_s": "s",  # union of job intervals in the sink: wall_s
    "exec.gap_s": "s",  # sink time outside planning and jobs: wall_s
    "exec.executor_run_s": "s",  # wall_s on headline
    "exec.executor_cpu_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.task_skew": "ratio",  # worst stage's max / median task: op_tail_s
    "python.boot_s": "s",  # Python workers: headline wall_s, op_tail_s
    "python.init_s": "s",
    "python.run_s": "s",
    "python.sent_mb": "MB",
    "python.returned_mb": "MB",
    "cli.preflight_s": "s",  # the refresh's wall_s from here on
    "pipeline.build_s": "s",  # source and model DataFrame construction
    "versioning.write_version_s": "s",
    "versioning.read_current_s": "s",
    "versioning.vacuum_s": "s",
    "versioning.commit_driver_s": "s",  # write_version outside Spark jobs
    "versioning.files_written": "count",  # wall_s and stored_mb on refresh
    "versioning.mb_written": "MB",
    "versioning.files_deleted": "count",
    "quality.data_tests_s": "s",
    "trace.wall_s": "s",  # traced wall_s
    "trace.overhead_s": "s",  # traced minus untraced wall_s
}

# Task accumulables (summed updates) -> (metric, scale to the metric's
# unit). The python.* names are Spark 4.1's PythonSQLMetrics, in ms and
# bytes. A reused Python worker starts its "time to initialize" when it
# begins to wait for its next task, so python.init_s includes idle time.
_ACCUMS = {
    "internal.metrics.executorRunTime": ("exec.executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("exec.executor_cpu_s", 1e-9),
    "internal.metrics.shuffle.read.remoteBytesRead": ("exec.shuffle_read_mb", 1 / MB),
    "internal.metrics.shuffle.read.localBytesRead": ("exec.shuffle_read_mb", 1 / MB),
    "internal.metrics.shuffle.write.bytesWritten": ("exec.shuffle_write_mb", 1 / MB),
    "internal.metrics.memoryBytesSpilled": ("exec.spill_mb", 1 / MB),
    "internal.metrics.diskBytesSpilled": ("exec.spill_mb", 1 / MB),
    "time to start Python workers": ("python.boot_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "time to run Python workers": ("python.run_s", 1e-3),
    "data sent to Python workers": ("python.sent_mb", 1 / MB),
    "data returned from Python workers": ("python.returned_mb", 1 / MB),
}

# Span name -> the metric its duration adds to.
_SPAN_TIMES = {
    "build": "queries.build_s",
    "catalog.load_table": "catalog.load_table_s",
    "cli.preflight": "cli.preflight_s",
    "pipeline.build": "pipeline.build_s",
    "versioning.write_version": "versioning.write_version_s",
    "versioning.read_current": "versioning.read_current_s",
    "versioning.vacuum": "versioning.vacuum_s",
    "quality.data_tests": "quality.data_tests_s",
}
_COVERING = {*_SPAN_TIMES, "sink"}  # the spans an op's time should fall in


class Tracer:
    """In-memory span recorder. Times are epoch seconds so that spans
    line up with the event log's millisecond timestamps. Spans named
    ``op_name`` tag the Spark jobs started inside them with their id."""

    def __init__(self, spark, op_name: str) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = spark.sparkContext
        self._op_name = op_name

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            "py4j": 0,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        if name == self._op_name:
            self._sc.setLocalProperty(OP_TAG, str(s["id"]))
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if name == self._op_name:
                self._sc.setLocalProperty(OP_TAG, None)

    def count_py4j(self) -> None:
        for s in self._stack:
            s["py4j"] += 1


def _tree_size(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


def install_hooks(tracer: Tracer, spark):
    """Wrap the package calls the per-layer metrics time: py4j commands,
    ``catalog.load_table`` and the refresh lifecycle steps, including
    the construction of each pipeline source and model DataFrame.
    Returns a function that removes the wrappers."""
    from nycitibike_data_transform_spark import __main__ as cli
    from nycitibike_data_transform_spark import catalog
    from nycitibike_data_transform_spark.pipeline import Pipeline
    from nycitibike_data_transform_spark.versioning import VersionedTable

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    originals = []

    def patch(obj, attr, wrapped):
        originals.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, wrapped)

    def counted_send(*a, **kw):
        tracer.count_py4j()
        return send(*a, **kw)

    patch(client, "send_command", counted_send)

    def spanned(name, fn, model=False, tree=None):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            attrs = {"model": Path(a[0].root).name} if model else {}
            with tracer.span(name, **attrs) as s:
                before = _tree_size(a[0].root) if tree else None
                try:
                    return fn(*a, **kw)
                finally:
                    if tree:
                        after = _tree_size(a[0].root)
                        s["files_delta"] = after[0] - before[0]
                        s["bytes_delta"] = after[1] - before[1]

        return wrapper

    def spanned_node(add):
        @functools.wraps(add)
        def wrapper(self, name, build, *a, **kw):
            @functools.wraps(build)
            def traced_build(*ba, **bkw):
                with tracer.span("pipeline.build", model=name):
                    return build(*ba, **bkw)

            return add(self, name, traced_build, *a, **kw)

        return wrapper

    patch(Pipeline, "add_source", spanned_node(Pipeline.add_source))
    patch(Pipeline, "add_model", spanned_node(Pipeline.add_model))
    patch(catalog, "load_table", spanned("catalog.load_table", catalog.load_table))
    patch(cli, "preflight", spanned("cli.preflight", cli.preflight))
    patch(cli, "data_tests", spanned("quality.data_tests", cli.data_tests))
    for meth, tree in (("write_version", True), ("read_current", False), ("vacuum", True)):
        orig = getattr(VersionedTable, meth)
        patch(VersionedTable, meth, spanned(f"versioning.{meth}", orig, model=True, tree=tree))

    def undo() -> None:
        for obj, attr, orig in reversed(originals):
            setattr(obj, attr, orig)

    return undo


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Jobs and stages from an uncompressed event log directory.

    Returns ``(jobs, stages)``: jobs by id with ``start``/``end`` (epoch
    s), stage ids and op tag; stages by id with task count, task
    durations and accumulable totals."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    files = sorted(
        f for f in glob.glob(f"{log_dir}/**/*", recursive=True)
        if os.path.isfile(f) and "events_" in os.path.basename(f)
        and not f.endswith(".crc")
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "start": e["Submission Time"] / 1e3,
                        "end": None,
                        "stages": e["Stage IDs"],
                        "tag": (e.get("Properties") or {}).get(OP_TAG),
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    info = e["Task Info"]
                    st = stages.setdefault(e["Stage ID"], {"durations": [], "accums": {}})
                    st["durations"].append(info["Finish Time"] - info["Launch Time"])
                    # task updates, not the stage's value: a SQL metric is
                    # one accumulator per plan node, shared between stages
                    for a in info.get("Accumulables", []):
                        if a.get("Name") in _ACCUMS:
                            st["accums"][a["Name"]] = st["accums"].get(a["Name"], 0.0) + float(
                                a.get("Update", 0)
                            )
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], {"durations": [], "accums": {}})
                    st["tasks"] = info["Number of Tasks"]
    return jobs, {k: v for k, v in stages.items() if "tasks" in v}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _clip(iv: tuple[float, float], span: dict) -> tuple[float, float]:
    return max(iv[0], span["start"]), min(iv[1], span["end"])


def op_layers(op: dict, spans: list[dict], jobs: dict, stages: dict) -> tuple[dict, list[int]]:
    """Per-layer figures for one op span (a query op or one refresh),
    and the ids of the jobs joined to it."""
    inside = [s for s in spans if op["start"] <= s["start"] and s["end"] <= op["end"]]
    job_ids = sorted(
        i for i, j in jobs.items() if j["end"] and op["start"] <= j["start"] <= op["end"]
    )
    op_jobs = [jobs[i] for i in job_ids]
    ivals = [_clip((j["start"], j["end"]), op) for j in op_jobs]
    m: dict[str, float] = defaultdict(float)
    for s in inside:
        if s["name"] in _SPAN_TIMES:
            m[_SPAN_TIMES[s["name"]]] += s["end"] - s["start"]
        if s["name"] == "catalog.load_table":
            m["catalog.load_table_calls"] += 1
        if s["name"] == "build":
            m["queries.py4j_calls"] += s["py4j"]
        if s["name"] == "versioning.write_version":
            m["versioning.files_written"] += s["files_delta"]
            m["versioning.mb_written"] += s["bytes_delta"] / MB
            overlap = [_clip(iv, s) for iv in ivals if iv[0] < s["end"] and iv[1] > s["start"]]
            m["versioning.commit_driver_s"] += (s["end"] - s["start"]) - _union(overlap)
        if s["name"] == "versioning.vacuum":
            m["versioning.files_deleted"] -= s["files_delta"]
    sink = next((s for s in inside if s["name"] == "sink"), None)
    if sink is not None:
        sink_ivals = [_clip(iv, sink) for iv in ivals if iv[1] > sink["start"]]
        first = min((iv[0] for iv in sink_ivals), default=sink["end"])
        m["catalyst.plan_s"] = first - sink["start"]
        m["exec.jobs_s"] = _union(sink_ivals)
        m["exec.gap_s"] = (sink["end"] - sink["start"]) - m["catalyst.plan_s"] - m["exec.jobs_s"]
    else:
        m["exec.jobs_s"] = _union(ivals)
        m["exec.gap_s"] = (op["end"] - op["start"]) - m["exec.jobs_s"]
    m["exec.jobs"] = len(op_jobs)
    skew = 1.0
    for sid in sorted({sid for j in op_jobs for sid in j["stages"]}):
        st = stages.get(sid)
        if st is None:
            continue  # skipped stage: its output was reused
        m["exec.stages"] += 1
        m["exec.tasks"] += st["tasks"]
        for name, value in st["accums"].items():
            metric, scale = _ACCUMS[name]
            m[metric] += value * scale
        if len(st["durations"]) > 1:
            med = statistics.median(st["durations"])
            skew = max(skew, max(st["durations"]) / max(med, 1))
    m["exec.task_skew"] = skew
    return m, job_ids


def layer_metrics(tracer: Tracer, log_dir: str, op_name: str) -> tuple[dict, list[dict], int]:
    """Per-layer metrics for the run: per-pass totals (``exec.task_skew``:
    the pass's worst stage), median over passes.

    Also returns one record per op and the number of event-log jobs that
    carry no op tag. A record holds the op's layer figures, its wall, the
    time its instrumented child spans cover (``spans_s``), the jobs
    joined to it by time and those tagged with it, and how far a tagged
    job reaches outside the op's span (``overrun_s``)."""
    jobs, stages = read_event_log(log_dir)
    spans = tracer.spans
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    per_pass, records = [], []
    for p in (s for s in spans if s["name"] == "pass"):
        total: dict[str, float] = defaultdict(float)
        for op in (c for c in children[p["id"]] if c["name"] == op_name):
            m, by_time = op_layers(op, spans, jobs, stages)
            by_tag = sorted(i for i, j in jobs.items() if j["tag"] == str(op["id"]))
            overrun = max(
                (max(op["start"] - jobs[i]["start"], (jobs[i]["end"] or op["end"]) - op["end"])
                 for i in by_tag),
                default=0.0,
            )
            covered = _union([(k["start"], k["end"]) for k in _top_level(op, spans)])
            records.append({
                "op": op.get("entry", op_name), "wall_s": op["end"] - op["start"],
                "spans_s": covered, "jobs_by_time": by_time, "jobs_by_tag": by_tag,
                "overrun_s": max(overrun, 0.0), **m,
            })
            for k, v in m.items():
                total[k] = max(total[k], v) if k == "exec.task_skew" else total[k] + v
        per_pass.append(total)
    keys = {k for t in per_pass for k in t}
    untagged = sum(1 for j in jobs.values() if j["tag"] is None)
    layers = {k: statistics.median(t.get(k, 0.0) for t in per_pass) for k in keys}
    return layers, records, untagged


def _top_level(op: dict, spans: list[dict]) -> list[dict]:
    """Covering spans under ``op`` not nested in another one."""
    ids = {op["id"]}
    out = []
    for s in spans:  # parents precede children
        if s["parent"] in ids:
            if s["name"] in _COVERING:
                out.append(s)
            else:
                ids.add(s["id"])
    return out

"""Benchmark of the nycitibike_data_transform_spark engine.

    python3 perfbench/run.py --workload {headline,refresh,sweep} \
        --seed N --seconds S --trace {0,1} [--sf sf0.001|sf0.01]

Runs one workload (see ``workloads.py``) in one process on one
SparkSession at ``local[<cpus>]``, where cpus is the number of cores this
process may use. Set-up, then timed passes until ``--seconds`` have
passed (at least the workload's minimum number of passes), then the
output check, all outside the timed region.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it records the box (cpus,
RAM, Spark driver memory), the seed, pass and op counts, the tail percentile,
the share of CPU time the host stole during the timed passes, and each
failed op with its error class. ``attempted`` counts timed and
checked ops; ``failed`` those that raised or failed their check;
``correct`` is false when a checked output differs from its expected
value. With ``--trace 0`` the metrics are the end-to-end ones:

- ``setup_s``: process start to the first timed op (JVM and session
  start, registry import, input preparation, the workload's warm-up);
- ``wall_s``: median pass wall;
- ``op_p50_s`` / ``op_tail_s``: per-op latency, median and the highest
  percentile with at least 10 ops beyond it at the workload's minimum op
  count (the maximum when that count is 10 or less), interpolated
  between order statistics;
- ``peak_rss_mb``: peak resident memory of this process plus its JVM;
- ``stored_mb``: bytes on disk the workload keeps: the refresh's
  warehouse with its retained snapshots; the query workloads' inputs.

With ``--trace 1`` the run goes on after its untraced passes: it
restarts the SparkSession with the event log on and spans around the
calls into the package, runs the passes again, then restarts untraced
and runs them a third time. It prints the per-layer metrics of
``tracing.LAYER_UNITS`` from the traced passes, including
``trace.overhead_s``: traced ``wall_s`` minus the mean of the two
untraced ones. Spans, per-op layer records (with the check of the
event-log join) and the untraced metrics go to ``.perfbench_out/``.

The run imports the package from the tree that holds this file, exports
that tree on ``PYTHONPATH`` for Spark's Python workers, and keeps every
file it writes under ``.perfbench_tmp/`` in that tree, removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "nycitibike_data_transform_spark"
TAIL_BEYOND = 10  # ops beyond the reported tail percentile


class _NoTrace:
    """Untraced runs: the span hooks cost one no-op context manager."""

    @staticmethod
    def span(name: str, **attrs):
        return contextlib.nullcontext()


def _box_env(tmp: Path) -> dict:
    """Environment for this process, the JVM and Spark's Python workers:
    the tree under test on PYTHONPATH, temp files under ``tmp``, cores
    from the affinity mask, Spark driver memory an eighth of RAM (at most 2g)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    env = {
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, mem_mb // 8)}m",
        "SPARK_GRAFT_WAREHOUSE": str(tmp / "spark-warehouse"),
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    return {"cpus": cpus, "mem_mb": mem_mb, "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"]}


def _import_package():
    sys.path.insert(0, str(ROOT))
    import importlib

    pkg = importlib.import_module(PACKAGE)
    where = Path(pkg.__file__).resolve()
    if ROOT not in where.parents:
        raise SystemExit(f"{PACKAGE} imported from {where}, not from {ROOT}")
    return pkg


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _cpu_jiffies() -> tuple[int, int]:
    """Stolen and total CPU time of this machine since boot, in jiffies.
    Time a shared host's hypervisor stole from it shows as slower ops."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:9]]
    return v[7], sum(v)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _descendants(pid: int) -> list[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            with contextlib.suppress(OSError), open(f"/proc/{entry}/stat") as fh:
                parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _stop_jvm(proc) -> None:
    """End the JVM and its Python workers, and wait for each."""
    kids = _descendants(proc.pid)
    if proc.stdin:
        proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10  # workers exit when the JVM's pipes close
    for pid in kids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def bench(args, tmp: Path, out_dir: Path) -> tuple[dict, dict]:
    box = _box_env(tmp)
    _import_package()
    import numpy as np
    from nycitibike_data_transform_spark.session import get_spark

    from perfbench import tracing, workloads

    conf = {
        "spark.local.dir": str(tmp / "local"),
        # a fixed, pre-touched heap: peak RSS then moves with the JVM's
        # off-heap memory and the Python process, not with when GC ran
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
            f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = tmp / "eventlog"
    traced_conf = {
        **conf,
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        # zstd, the default codec, needs the optional zstandard module
        "spark.eventLog.compress": "false",
    }
    wl = workloads.make(args.workload, args.sf)

    def timed(tracer) -> tuple[list[float], list[float], list[tuple[str, str]]]:
        """Passes until ``--seconds`` have passed, at least the workload's
        minimum: pass walls, latencies of ops that returned, failed ops."""
        walls, lat, errors = [], [], []
        t_start = time.perf_counter()
        pass_no = 0
        with tracer.span("workload", workload=wl.name):
            while pass_no < wl.min_passes or time.perf_counter() - t_start < args.seconds:
                p0 = time.perf_counter()
                with tracer.span("pass", n=pass_no):
                    for name in wl.order(args.seed, pass_no):
                        o0 = time.perf_counter()
                        try:
                            with tracer.span(wl.op_name, entry=name):
                                wl.run_op(name)
                            lat.append(time.perf_counter() - o0)
                        except Exception as exc:  # noqa: BLE001 - recorded, the run goes on
                            errors.append((name, type(exc).__name__))
                walls.append(time.perf_counter() - p0)
                pass_no += 1
        return walls, lat, errors

    def restart(spark, session_conf: dict):
        spark.stop()
        wl.spark = get_spark("perfbench", extra_conf=session_conf)
        return wl.spark

    t = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    get_spark_s = time.perf_counter() - t
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    try:
        wl.prepare(spark, str(tmp), _NoTrace())
        expected = json.loads((ROOT / "perfbench" / "expected.json").read_text())
        checks = wl.warm_up(expected)
        setup_s = time.perf_counter() - T0
        cpu0 = _cpu_jiffies()
        walls, lat, errors = timed(_NoTrace())
        steal, total = (b - a for a, b in zip(cpu0, _cpu_jiffies()))
        n_timed = len(lat) + len(errors)
        if args.trace:
            # Traced passes sit between two untraced ones in the same JVM,
            # so its warm-up drift cancels out of the overhead estimate.
            log_dir.mkdir()
            spark = restart(spark, traced_conf)
            wl.tracer = tracer = tracing.Tracer(spark, wl.op_name)
            undo = tracing.install_hooks(tracer, spark)
            traced_walls, traced_lat, traced_errors = timed(tracer)
            undo()
            wl.tracer = _NoTrace()
            spark = restart(spark, conf)  # stop() flushed the event log
            after_walls, after_lat, after_errors = timed(_NoTrace())
            n_timed += len(traced_lat) + len(after_lat)
            errors += traced_errors + after_errors
            n_timed += len(traced_errors) + len(after_errors)
        checks += wl.check_after(expected)
        stored_mb = wl.stored_bytes() / 1e6
        rss_mb = {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(jvm.pid)}
    finally:
        try:
            spark.stop()
            gateway.shutdown()
        finally:
            _stop_jvm(jvm)

    errors += [(n, e) for n, e in checks if e]
    min_ops = wl.min_passes * len(wl.order(args.seed, 0))
    tail_q = max(0.0, 1 - TAIL_BEYOND / min_ops) if min_ops > TAIL_BEYOND else 1.0
    info = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "sf": wl.sf, **box,
        "passes": len(walls), "pass_walls_s": [round(w, 3) for w in walls],
        "steal_share": round(steal / max(total, 1), 4),
        "ops_timed": n_timed, "ops_checked": len(checks), "latency_samples": len(lat),
        "op_tail_percentile": round(100 * tail_q, 1), "peak_rss_mb": rss_mb,
        "op_s": [round(x, 4) for x in lat], "failures": sorted(set(errors)),
    }
    result = {
        "correct": not any(e == "Mismatch" for _, e in checks),
        "attempted": n_timed + len(checks),
        "failed": len(errors),
    }
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "op_p50_s": (float(np.quantile(lat, 0.5)) if lat else 0.0, "s"),
        "op_tail_s": (float(np.quantile(lat, tail_q)) if lat else 0.0, "s"),
        "peak_rss_mb": (sum(rss_mb.values()), "MB"),
        "stored_mb": (stored_mb, "MB"),
    }
    if args.trace:
        untraced = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        layers, records, untagged = tracing.layer_metrics(tracer, str(log_dir), wl.op_name)
        layers["session.get_spark_s"] = get_spark_s
        layers["trace.wall_s"] = statistics.median(traced_walls)
        layers["trace.overhead_s"] = layers["trace.wall_s"] - (
            statistics.median(walls) + statistics.median(after_walls)
        ) / 2
        metrics = {k: (layers.get(k, 0.0), u) for k, u in tracing.LAYER_UNITS.items()}
        info["traced_pass_walls_s"] = [round(w, 3) for w in traced_walls]
        info["untraced_after_pass_walls_s"] = [round(w, 3) for w in after_walls]
        info["trace_untagged_jobs"] = untagged
        out_dir.mkdir(exist_ok=True)
        dump = {"info": info, "untraced": untraced, "spans": tracer.spans, "ops": records}
        (out_dir / f"trace-{wl.name}-{args.seed}.json").write_text(json.dumps(dump, indent=1))
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return result, info


def _terminate(*_) -> None:
    """A terminated run still stops its JVM and removes its files."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # a second TERM must not cut the cleanup
    sys.exit(128 + signal.SIGTERM)


def main(argv: list[str] | None = None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    sys.path.insert(0, str(ROOT))
    from perfbench import oracle, workloads

    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=sorted(p.name for p in oracle.DATA.iterdir()),
                    help="input scale (default: the workload's own)")
    args = ap.parse_args(argv)

    stdout, sys.stdout = sys.stdout, sys.stderr  # stdout carries only the result
    tmp_root = ROOT / ".perfbench_tmp"
    tmp_root.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root))
    try:
        result, info = bench(args, tmp, ROOT / ".perfbench_out")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            tmp_root.rmdir()  # left in place while another run uses it
    print(json.dumps(info), file=stdout)
    print(json.dumps(result), file=stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())

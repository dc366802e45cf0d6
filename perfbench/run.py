"""Benchmark entry point.

    python3 perfbench/run.py --workload {star_etl,corpus_release,bi_serving}
        --seed N --seconds S --trace {0,1}

Run from the repository root. One process, one ``local[<cores>]``
Spark session, one client thread. Set-up (session start, seeded
inputs, index builds, warm-up) is timed as ``setup_s``; then whole
iterations (a pipeline run, or a pass of the query mix) run until
``--seconds`` have passed, at least one. Every operation's output is
checked; a failed check counts into ``failed`` and makes the exit
code 1.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
Spark's event log, opens a span around every call into a layer and
reports the per-layer metrics instead (see spans.py).

Everything the run writes (inputs, indexes, Spark local dirs, the
event log, temp files) lives in ``.perfbench_run/`` under the
repository root and is removed at exit. The last line of stdout is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
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
import time

import spans
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "clinical_data_warehouse_bi_spark"
#: Spark JVM heap: several times what these inputs need, and well
#: under the memory of a small (4-core, 15 GiB) host
JVM_MEMORY = "4g"


class Context:
    def __init__(self, run_dir: str, seed: int, cores: int, tracer) -> None:
        self.run_dir = run_dir
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        self.event_log_dir = os.path.join(run_dir, "eventlog")

    def start_session(self):
        from clinical_data_warehouse_bi_spark.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            # the console progress bar overwrites our own output lines
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temp files and perf data out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.tracer is not None:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update(spans.event_log_conf(self.event_log_dir))
        spark = get_spark("perfbench", extra_conf=conf)
        if self.tracer is not None:
            self.tracer.bind(spark)
        return spark


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:
            pass
    return out


def _descendants(pid: int) -> list[int]:
    found, todo = [], [pid]
    while todo:
        for c in _children(todo.pop()):
            found.append(c)
            todo.append(c)
    return found


def _rss_by_process() -> dict[str, float]:
    """High-water resident set (MB) of the processes that live for the
    whole run: this one, the Spark JVM and the JVM's direct children
    (the Python worker daemon). Forked Python workers are left out:
    how many are alive at the end depends on Spark reaping idle
    workers after a minute, not on the workload."""
    out = {}
    jvms = _children(os.getpid())
    for pid in [os.getpid()] + jvms + [c for j in jvms for c in _children(j)]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
            with open(f"/proc/{pid}/cmdline") as fh:
                cmd = fh.read().split("\0")[0].rsplit("/", 1)[-1]
        except (OSError, StopIteration):
            continue
        out[f"{cmd}:{pid}"] = kb / 1024.0
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/status") as fh:
            return not any(line.startswith("State:\tZ") for line in fh)
    except OSError:
        return False


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait until every
    process this run started has exited; kill what is left after 30 s."""
    from pyspark import SparkContext

    pids = _descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception as e:  # noqa: BLE001 - a broken gateway must not stop the clean-up
        print(f"stopping Spark failed: {e!r}", file=sys.stderr)
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    if proc is not None:
        proc.wait()
    while any(_alive(p) for p in pids):
        time.sleep(0.05)


def _prepare_env(run_dir: str, cores: int) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR: served indexes cache here
    # the launcher JVM that spark-submit starts first: no /tmp perf data
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(run_dir, "warehouse-dir")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_MEMORY
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_MASTER", None)


def _measure(wl, seconds: float) -> list[list[dict]]:
    """Run whole iterations until ``seconds`` have passed (at least
    one): a pipeline run, or one pass of the query mix. Returns the
    operation results of each iteration."""
    units: list[list[dict]] = []
    start = time.perf_counter()
    while not units or time.perf_counter() - start < seconds:
        if units:
            wl.reset()
        if wl.name == "bi_serving":
            units.append([wl.op(*item) for item in wl.pass_order(len(units))])
        else:
            units.append([wl.op(len(units))])
    return units


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _prepare_env(run_dir, cores)
    tracer = None
    restore = None
    if trace:
        tracer = spans.Tracer()
        restore = spans.install_layer_wrappers(tracer)
    ctx = Context(run_dir, seed, cores, tracer)
    wl = workloads.WORKLOADS[workload](ctx)
    load_start = os.getloadavg()[0]
    try:
        t0 = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - t0
        units = _measure(wl, seconds)
        ops = [o for unit in units for o in unit]
        rss = _rss_by_process()
        peak_rss = sum(rss.values())
        spark = wl.spark
        env = {
            "cores": cores,
            "jvm_memory": JVM_MEMORY,
            "spark_version": spark.version,
            "java_version": spark.sparkContext._jvm.System.getProperty("java.version"),
        }
        _shutdown(spark)
        wl.spark = None
        if trace:
            jobs = spans.read_event_log(ctx.event_log_dir)
            windows = [o["window"] for o in ops]
            layer = spans.layer_metrics(tracer.spans, jobs, windows, len(units), cores)
            cover = spans.coverage(tracer.spans, windows)
    finally:
        try:
            if wl.spark is not None:
                _shutdown(wl.spark)
        finally:
            if restore is not None:
                restore()
            shutil.rmtree(run_dir, ignore_errors=True)
            parent = os.path.dirname(run_dir)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    latencies = [o["latency"] for o in ops]
    failures = list(getattr(wl, "setup_failed", [])) + [
        f for o in ops for f in o["failed"]
    ]
    n_setup_checks = getattr(wl, "oracle_checked", 0)
    attempted = n_setup_checks + len(ops)
    failed = len(getattr(wl, "setup_failed", [])) + sum(1 for o in ops if o["failed"])
    total_latency = sum(latencies)
    e2e = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (sum(o["rows"] for o in ops) / total_latency, "rows/s"),
        "iteration_p50_s": (statistics.median(sum(o["latency"] for o in u) for u in units), "s"),
    }
    extra = {
        "peak_rss_mb": (peak_rss, "MB"),
        "error_rate": (failed / attempted, "failed/attempted"),
        "output_mb": (sum(o["bytes"] for o in ops) / len(ops) / 1e6, "MB"),
    }
    if workload == "bi_serving":
        q = statistics.quantiles(latencies, n=10, method="inclusive")
        extra.update({
            "queries_per_s": (len(ops) / total_latency, "queries/s"),
            "query_p50_s": (statistics.median(latencies), "s"),
            "query_p90_s": (q[8], "s"),
        })
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        **env,
        "inputs": wl.inputs,
        "rss_mb": {k: round(v, 1) for k, v in rss.items()},
        "setup_phases_s": {k: round(v, 3) for k, v in wl.setup_phases.items()},
        "host_load_1m": [round(load_start, 2), round(os.getloadavg()[0], 2)],
        "ops": len(ops),
        "units": len(units),
        "op_latencies_s": [round(x, 4) for x in latencies],
        "failures": failures,
        "extra": {k: v for k, (v, _) in extra.items()},
    }
    if hasattr(wl, "release_counts"):
        record["release"] = wl.release_counts
    if trace:
        record["coverage"] = cover
        metrics = {k: (v, spans.UNITS[k.rsplit(".", 1)[1]]) for k, v in layer.items()}
    else:
        metrics = e2e
    for k, (v, unit) in {**e2e, **extra}.items():
        print(f"{workload} {k} = {v:.6g} {unit}")
    print("record " + json.dumps(record, sort_keys=True), file=sys.stderr)
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE}/ not found next to perfbench/: run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

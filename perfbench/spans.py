"""Spans around calls into the engine's layers, and Spark's own counters
folded per span from the event log.

A span is opened by the benchmark around each call into a layer: the
workload code opens spans for the calls it makes itself, and
``install_layer_wrappers`` wraps the public functions the engine calls
internally (``star.build_staging``, ``keys.zip_index_key``, ...), so no
code inside the engine changes. Each span sets the Spark job group of
its thread, which every job submitted inside it carries into the event
log. Jobs that carry no known group (submitted from a thread the
engine started itself) go to the innermost span open when they were
submitted.

The event log must be uncompressed and non-rolling (``EVENT_LOG_CONF``)
so that it is one JSON line per event.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"

#: unit of each metric, by the last part of its name
UNITS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "executor_cpu_s": "s", "shuffle_write_mb": "MB", "core_util": "ratio",
    "spill_mb": "MB", "task_wait_s": "s",
}

#: layers measured inside a workload's timed operation
LAYERS = (
    "star.build_staging",
    "keys.zip_index_key",
    "star.build_dwh",
    "io.write_layer",
    "qa",
    "corpus.build_corpus_release",
    "suffix.probe_suffix_index",
    "suffix.strip_duplicate_spans",
    "io.temperature_mix_keyed",
    "sink.release_parquet",
    "io.manifest",
    "queries.core",
    "queries.join_ops",
    "queries.windows",
    "queries.qa_report",
    "queries.similarity",
    "queries.retrieval_ops",
)

#: layers measured once, during set-up
SETUP_LAYERS = (
    "session.get_spark",
    "fixtures.make_sources",
    "suffix.build_suffix_index",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Collects spans in memory; ``bind`` attaches the Spark context
    whose job group each span sets."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._sc = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a thread the engine started has no open span of its own: its
        # work belongs to the span the main thread has open
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": None if parent is None else parent["id"],
                "t0": time.time(),
                "t1": None,
            }
            self.spans.append(rec)
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", name)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", prev)


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


def install_layer_wrappers(tracer: Tracer):
    """Wrap the engine functions that other engine code calls, so each
    call opens a span. Returns a function that restores the originals."""
    from clinical_data_warehouse_bi_spark import io, keys, star, suffix

    targets = [
        (star, "build_staging", "star.build_staging"),
        (star, "build_dwh", "star.build_dwh"),
        # star imported the name at module load, so both bindings
        (star, "zip_index_key", "keys.zip_index_key"),
        (keys, "zip_index_key", "keys.zip_index_key"),
        (io, "write_layer", "io.write_layer"),
        (io, "temperature_mix_keyed", "io.temperature_mix_keyed"),
        (suffix, "probe_suffix_index", "suffix.probe_suffix_index"),
        (suffix, "strip_duplicate_spans", "suffix.strip_duplicate_spans"),
    ]
    saved = []
    for mod, attr, name in targets:
        orig = getattr(mod, attr)
        saved.append((mod, attr, orig))
        setattr(mod, attr, _wrap(tracer, name, orig))

    def restore() -> None:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)

    return restore


def read_event_log(log_dir: str) -> dict:
    """Fold the single event-log file in ``log_dir`` into jobs (group,
    submit time in s, stage ids) and per-stage task totals."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    stages: dict[int, dict] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sub = info.get("Submission Time")
                if sub is not None:
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stage_submit[key] = sub / 1000.0
            elif kind == "SparkListenerTaskEnd":
                sid, att = ev["Stage ID"], ev["Stage Attempt ID"]
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(
                    sid,
                    {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_write_b": 0,
                     "spill_b": 0, "wait_s": 0.0, "launch": []},
                )
                st["tasks"] += 1
                st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                st["spill_b"] += m.get("Disk Bytes Spilled", 0)
                st["launch"].append((att, info["Launch Time"] / 1000.0))
    for sid, st in stages.items():
        for att, launch in st.pop("launch"):
            sub = stage_submit.get((sid, att))
            if sub is not None:
                st["wait_s"] += max(0.0, launch - sub)
    # a stage that several jobs list ran in the first of them; later
    # jobs skip it
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    for jid, job in jobs.items():
        tot = {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_write_b": 0,
               "spill_b": 0, "wait_s": 0.0}
        for sid in job["stages"]:
            if owner.get(sid) == jid and sid in stages:
                for k in tot:
                    tot[k] += stages[sid][k]
        job.update(tot)
    return jobs


def _attribute(jobs: dict, spans: list[dict]) -> dict[int, int | None]:
    """job id -> span id: by job group, else the innermost span open at
    submission."""
    by_group = {f"{GROUP_PREFIX}{s['id']}": s["id"] for s in spans}
    out = {}
    for jid, job in jobs.items():
        sid = by_group.get(job["group"])
        if sid is None:
            open_ = [s for s in spans if s["t0"] <= job["submit"] <= s["t1"]]
            sid = max(open_, key=lambda s: s["t0"])["id"] if open_ else None
        out[jid] = sid
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_metrics(
    spans: list[dict],
    jobs: dict,
    ops: list[tuple[float, float]],
    units: int,
    cores: int,
) -> dict[str, float]:
    """Per-layer metrics over the timed operations ``ops`` (list of
    (start, end) wall times), per unit of work (an iteration, or one
    pass of the query mix), plus set-up span walls and the Spark-wide
    spill and task-wait counters."""
    n_ops = units
    in_ops = [s for s in spans if any(a <= s["t0"] <= b for a, b in ops)]
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    job_span = _attribute(jobs, spans)
    own_jobs: dict[int, list[int]] = {}
    for jid, sid in job_span.items():
        if sid is not None:
            own_jobs.setdefault(sid, []).append(jid)

    def subtree_jobs(s: dict) -> list[int]:
        out = list(own_jobs.get(s["id"], []))
        for c in children.get(s["id"], []):
            out += subtree_jobs(c)
        return out

    acc = {name: dict.fromkeys(("wall_s", "self_s", "jobs", "tasks", "run_s",
                                "cpu_s", "shuffle_write_b"), 0.0)
           for name in LAYERS}
    for s in in_ops:
        if s["name"] not in acc:
            continue
        a = acc[s["name"]]
        dur = s["t1"] - s["t0"]
        kids = [
            (max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
            for c in children.get(s["id"], [])
        ]
        a["wall_s"] += dur
        a["self_s"] += dur - _union_length([k for k in kids if k[1] > k[0]])
        for jid in subtree_jobs(s):
            j = jobs[jid]
            a["jobs"] += 1
            a["tasks"] += j["tasks"]
            a["run_s"] += j["run_s"]
            a["cpu_s"] += j["cpu_s"]
            a["shuffle_write_b"] += j["shuffle_write_b"]
    out: dict[str, float] = {}
    for name, a in acc.items():
        out[f"{name}.wall_s"] = a["wall_s"] / n_ops
        out[f"{name}.self_s"] = a["self_s"] / n_ops
        out[f"{name}.jobs"] = a["jobs"] / n_ops
        out[f"{name}.tasks"] = a["tasks"] / n_ops
        out[f"{name}.executor_cpu_s"] = a["cpu_s"] / n_ops
        out[f"{name}.shuffle_write_mb"] = a["shuffle_write_b"] / 1e6 / n_ops
        out[f"{name}.core_util"] = (
            a["run_s"] / (a["wall_s"] * cores) if a["wall_s"] > 0 else 0.0
        )
    for name in SETUP_LAYERS:
        out[f"{name}.wall_s"] = sum(
            (s["t1"] - s["t0"] for s in spans if s["name"] == name), 0.0
        )
    op_jobs = [j for j in jobs.values() if any(a <= j["submit"] <= b for a, b in ops)]
    out["spark.spill_mb"] = sum(j["spill_b"] for j in op_jobs) / 1e6 / n_ops
    out["spark.task_wait_s"] = sum(j["wait_s"] for j in op_jobs) / n_ops
    return out


def coverage(spans: list[dict], ops: list[tuple[float, float]]) -> dict:
    """How much of the timed operations the top-level spans cover: the
    sum of every span's self time inside an operation equals the union
    of its top-level spans, so ``gap_s`` is the time no layer span saw
    (benchmark glue, Python between calls)."""
    total = sum(b - a for a, b in ops)
    covered = 0.0
    for a, b in ops:
        top = [
            (max(s["t0"], a), min(s["t1"], b))
            for s in spans
            if s["parent"] is None and a <= s["t0"] <= b
        ]
        covered += _union_length(top)
    return {"op_s": total, "covered_s": covered, "gap_s": total - covered}

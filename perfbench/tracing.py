"""Tracing for the benchmark's traced run (``--trace 1``).

Two sources, both installed only in that run:

* **Spans** from the benchmark's own wrappers around the package's
  public functions, one per module boundary.  A wrapper replaces the
  name in the module namespace where the caller looks it up (e.g.
  ``plans.nightly.link_districts``), so the package itself is not
  edited.  Each span records name, start, end, parent span and the op
  it belongs to; self time is its duration minus the part its child
  spans cover.
* **Spark's event log** (job, stage and task counters), turned on in
  the session conf, with the jobs of every op labelled through
  ``setJobDescription``.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import threading
import time
from collections import defaultdict

PKG = "nyc_crash_mapper_etl_script_spark"

#: (module where the caller looks the name up, attribute, span name).
#: Span names follow ``<module>.<function>`` of the defining module.
WRAP_POINTS = [
    ("plans.nightly", "run_nightly", "plans.nightly.run_nightly"),
    ("plans.nightly", "assign_serial_ids", "plans.nightly.assign_serial_ids"),
    ("plans.nightly", "normalize_soda_feed", "operators.ingest.normalize_soda_feed"),
    ("plans.nightly", "filter_to_extent", "operators.enrichment.filter_to_extent"),
    ("plans.nightly", "link_districts", "operators.enrichment.link_districts"),
    ("plans.nightly", "intersection_crash_counts",
     "operators.enrichment.intersection_crash_counts"),
    ("plans.nightly", "allocate_blame", "operators.blame.allocate_blame"),
    ("plans.nightly", "tally_mismatches", "operators.reconcile.tally_mismatches"),
    ("plans.nightly", "moved_geoms", "operators.reconcile.moved_geoms"),
    ("plans.nightly", "top_k", "operators.topk.top_k"),
    ("plans.continuous", "assign_serial_ids", "plans.nightly.assign_serial_ids"),
    ("plans.continuous", "normalize_soda_feed", "operators.ingest.normalize_soda_feed"),
    ("plans.continuous", "filter_to_extent", "operators.enrichment.filter_to_extent"),
    ("plans.continuous", "link_districts", "operators.enrichment.link_districts"),
    ("plans.continuous", "allocate_blame", "operators.blame.allocate_blame"),
    ("plans.continuous", "tally_mismatches", "operators.reconcile.tally_mismatches"),
    ("plans.continuous", "refresh_additive_mv", "operators.mv.refresh_additive_mv"),
    # imported inside the function body, so looked up on the module
    ("operators.mv", "refresh_signed_mv", "operators.mv.refresh_signed_mv"),
    ("functions.materialize", "share_corpus_subtree",
     "functions.materialize.share_corpus_subtree"),
    ("operators.dedup_text", "share_corpus_subtree",
     "functions.materialize.share_corpus_subtree"),
    ("operators.similarity", "share_corpus_subtree",
     "functions.materialize.share_corpus_subtree"),
]
#: TxTable methods, wrapped on the class
TXTABLE_METHODS = ["init", "append", "merge", "read"]


class Tracer:
    """In-memory span recorder plus plan-cache counters.  ``op_id`` is
    the timed op in flight (``None`` outside the timed region); spans
    carry it, and the plan-cache counters only count inside it."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self.memo_calls = 0
        self.memo_hits = 0
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append({
                    "name": name, "start": time.perf_counter(), "end": None,
                    "parent": stack[-1] if stack else None, "op": tracer.op_id,
                })
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                tracer.spans[idx]["end"] = time.perf_counter()

        return traced

    def install(self) -> None:
        for mod_name, attr, span in WRAP_POINTS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            setattr(mod, attr, self.wrap(getattr(mod, attr), span))
        from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable

        for meth in TXTABLE_METHODS:
            setattr(TxTable, meth, self.wrap(getattr(TxTable, meth), f"sources.txtable.{meth}"))
        plancache = importlib.import_module(f"{PKG}.plancache")
        plancache.memo = self._wrap_memo(plancache.memo)

    def _wrap_memo(self, memo):
        tracer = self

        @functools.wraps(memo)
        def counted(df, tag, params, compute):
            computed = []

            def run():
                computed.append(1)
                return compute()

            out = memo(df, tag, params, run)
            if tracer.op_id is not None:  # count timed ops only
                with tracer._lock:
                    tracer.memo_calls += 1
                    tracer.memo_hits += not computed
            return out

        return counted

    def self_times(self, ops: set[str]) -> dict[str, float]:
        """Total self time per span name over the spans of ``ops``."""
        children: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children[s["parent"]].append(i)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["op"] not in ops or s["end"] is None:
                continue
            covered = _union([(self.spans[c]["start"], self.spans[c]["end"] or s["end"])
                              for c in children[i]])
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per-job counters keyed by job id, each with the job's
    description, its local properties and stage/task totals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = {
                        "description": props.get("spark.job.description") or "",
                        "props": props, "stages": 0, "tasks": 0, "task_cpu_s": 0.0,
                        "shuffle_write_bytes": 0, "spill_bytes": 0, "output_bytes": 0,
                    }
                    jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerStageCompleted":
                    job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                    if job is not None and "Completion Time" in ev["Stage Info"]:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics") or {}
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    job["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
                    job["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return jobs


COUNTERS = ["stages", "tasks", "task_cpu_s", "shuffle_write_bytes", "spill_bytes",
            "output_bytes"]


def sum_jobs(jobs: list[dict]) -> dict[str, float]:
    out = {c: 0 for c in COUNTERS}
    out["jobs"] = len(jobs)
    for j in jobs:
        for c in COUNTERS:
            out[c] += j[c]
    return out

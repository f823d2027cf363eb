"""Per-layer metrics of a traced run (``--trace 1``).

Every metric in ``LAYER_METRICS`` is reported on every workload; a
layer the workload does not reach reads 0, which is the measured form
of "this workload bypasses that layer" (e.g. ``harness.*`` on
``nightly_refresh``, which runs no harness query).  Times are per timed
op (one night, one battery pass, one day file) unless the name says
otherwise: span self times are means per op, phase times medians per
op, event-log counters means per op; ``harness.<category>.query_s`` is
the median over that category's queries.  ``LAYER_METRICS`` is the
list ``BENCHMARK.json``'s ``per_layer`` mirrors.
"""

from __future__ import annotations

import json
import os
import statistics

import tracing

NIGHTLY_SPANS = [
    "plans.nightly.assign_serial_ids", "operators.ingest.normalize_soda_feed",
    "operators.enrichment.filter_to_extent", "operators.enrichment.link_districts",
    "operators.enrichment.intersection_crash_counts", "operators.blame.allocate_blame",
    "operators.reconcile.tally_mismatches", "operators.reconcile.moved_geoms",
    "operators.topk.top_k",
]
BATCH_PHASES = ["addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning",
                "triggerExecution"]
CATEGORIES = ["relational", "corpus", "vector", "temporal"]
COUNTER_UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "task_cpu_s": "s",
                 "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
                 "output_bytes": "bytes"}

#: (name, unit, better) of every per-layer metric ``BENCHMARK.json``
#: lists: the layers ``nightly_refresh`` and ``query_battery`` reach
LAYER_METRICS = (
    [("session.start_s", "s", "lower"),
     ("plans.nightly.run_nightly.declare_s", "s", "lower"),
     ("plans.nightly.driver_jobs", "count", "lower")]
    + [(f"{s}.s", "s", "lower") for s in NIGHTLY_SPANS]
    + [("plans.nightly.exec_s", "s", "lower")]
    + [(f"plans.nightly.{c}", u, "lower") for c, u in COUNTER_UNITS.items()]
    + [("functions.materialize.share_corpus_subtree.s", "s", "lower"),
       ("plancache.memo.calls", "count", "lower"),
       ("plancache.memo.hits", "ratio", "higher"),
       ("harness.declare_s", "s", "lower"),
       ("harness.exec_s", "s", "lower"),
       ("harness.driver_jobs", "count", "lower")]
    + [(f"harness.{c}", u, "lower") for c, u in COUNTER_UNITS.items() if c != "output_bytes"]
    + [(f"harness.{c}.query_s", "s", "lower") for c in CATEGORIES]
    + [("trace.op_s_p50", "s", "lower")]
)

#: the write-path layers only ``daily_ingest`` reaches; that workload
#: is not in ``BENCHMARK.json`` (see METRICS.md), so only its own
#: traced runs report these
WRITE_PATH_METRICS = (
    [(f"plans.continuous.batch.{p}_ms", "ms", "lower") for p in BATCH_PHASES]
    + [("plans.continuous.jobs_per_batch", "count", "lower"),
       ("plans.continuous.tasks_per_batch", "count", "lower")]
    + [(f"sources.txtable.{m}.s", "s", "lower") for m in tracing.TXTABLE_METHODS]
    + [("sources.txtable.commits", "count", "lower"),
       ("sources.txtable.files_added", "count", "lower"),
       ("sources.txtable.files_removed", "count", "lower"),
       ("sources.txtable.bytes_written", "bytes", "lower"),
       ("sources.txtable.log_bytes", "bytes", "lower"),
       ("sources.txtable.stored_bytes_per_input_byte", "ratio", "lower"),
       ("operators.mv.refresh_additive_mv.s", "s", "lower"),
       ("operators.mv.refresh_signed_mv.s", "s", "lower")]
)


def _median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def _job_op(job: dict, workload: str) -> tuple[str | None, str | None]:
    parts = job["description"].split("|")
    if len(parts) == 4 and parts[0] == "pb" and parts[1] == workload:
        return parts[2], parts[3]
    return None, None


def per_layer(workload: str, res: dict) -> dict[str, tuple[float, str]]:
    r, tracer = res["result"], res["tracer"]
    n_ops = max(1, len(r["lat"]))
    ops = {str(i) for i in range(res["attempted"])}
    metrics = LAYER_METRICS + (WRITE_PATH_METRICS if workload == "daily_ingest" else [])
    vals: dict[str, float] = {name: 0.0 for name, _, _ in metrics}
    vals["session.start_s"] = r["session_s"]
    vals["trace.op_s_p50"] = _median(r["lat"])

    for name, total in tracer.self_times(ops).items():
        key = f"{name}.s"
        if key in vals:
            vals[key] = total / n_ops
    if tracer.memo_calls:
        vals["plancache.memo.calls"] = tracer.memo_calls / n_ops
        vals["plancache.memo.hits"] = tracer.memo_hits / tracer.memo_calls

    jobs = tracing.read_event_log(res["log_dir"])
    by_phase: dict[str, list[dict]] = {"declare": [], "exec": []}
    for job in jobs.values():
        op, phase = _job_op(job, workload)
        if op in ops and phase in by_phase:
            by_phase[phase].append(job)
    execs = [t - d for t, d in zip(r["lat"], r["decl"]) if d is not None]
    decls = [d for d in r["decl"] if d is not None]
    prefix = {"nightly_refresh": "plans.nightly", "query_battery": "harness"}.get(workload)
    if prefix:
        counts = tracing.sum_jobs(by_phase["exec"])
        for c in COUNTER_UNITS:
            if f"{prefix}.{c}" in vals:
                vals[f"{prefix}.{c}"] = counts[c] / n_ops
        vals[f"{prefix}.driver_jobs"] = len(by_phase["declare"]) / n_ops
        vals[f"{prefix}.exec_s"] = _median(execs)
        vals["plans.nightly.run_nightly.declare_s" if prefix == "plans.nightly"
             else "harness.declare_s"] = _median(decls)
    if workload == "query_battery":
        per_cat: dict[str, list[float]] = {c: [] for c in CATEGORIES}
        for name, _, total in (q for p in r["passes"] for q in p):
            per_cat[r["category"][name]].append(total)
        for c, xs in per_cat.items():
            vals[f"harness.{c}.query_s"] = _median(xs)
    if workload == "daily_ingest":
        _streaming(vals, r, jobs)
    with open(os.path.join(res["work"], "trace.json"), "w") as fh:
        json.dump({"spans": tracer.spans, "jobs": jobs, "metrics": vals}, fh)
    return {name: (vals[name], unit) for name, unit, _ in metrics}


def _streaming(vals: dict, r: dict, jobs: dict) -> None:
    first = r["first_timed_batch"]
    batches = [p for p in r["progress"] if p["batchId"] >= first and p.get("numInputRows")]
    for p in BATCH_PHASES:
        vals[f"plans.continuous.batch.{p}_ms"] = _median(
            [b["durationMs"].get(p) for b in batches])
    ids = {str(b["batchId"]) for b in batches}
    mine = [j for j in jobs.values() if j["props"].get("streaming.sql.batchId") in ids]
    n = max(1, len(ids))
    vals["plans.continuous.jobs_per_batch"] = len(mine) / n
    vals["plans.continuous.tasks_per_batch"] = sum(j["tasks"] for j in mine) / n
    st = r["storage"]
    for k in ("commits", "files_added", "files_removed"):
        vals[f"sources.txtable.{k}"] = st[k]
    vals["sources.txtable.bytes_written"] = st["data"]
    vals["sources.txtable.log_bytes"] = st["log"]
    vals["sources.txtable.stored_bytes_per_input_byte"] = (st["data"] + st["log"]) / st["input"]

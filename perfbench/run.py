"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload nightly_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root.  The workload runs on a
``local[<cores>]`` session in this process, set up from inputs
generated from ``--seed``; ops are timed until ``--seconds`` of op time
has been measured, and every op's output is checked outside the timed
region.  The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs
the span wrappers and Spark's event log and reports the per-layer
metrics instead, writing spans and job counters to
``.perfbench_work/<workload>/trace.json``.  Work files live under
``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "nyc_crash_mapper_etl_script_spark"
#: initial-state builds per run; set-up time counts their median
SETUP_REPS = 3
#: the seed a run uses when none is given
DEFAULT_SEED = 20261017


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Settings every run needs, whatever the caller's environment."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # Python workers (pandas UDFs) import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp


def start_session(work: str, event_log_dir: str | None):
    from nyc_crash_mapper_etl_script_spark.session import tuned_builder

    b = (
        tuned_builder("perfbench")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "tmp"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed-size heap: G1 never resizes it mid-run, so GC pause
        # time and resident memory repeat from run to run
        .config("spark.driver.extraJavaOptions",
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'tmp')}")
    )
    if event_log_dir:
        from tracing import event_log_conf

        for k, v in event_log_conf(event_log_dir).items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a stuck JVM must not outlive the run
            proc.kill()
            proc.wait()


class RssSampler:
    """Peak resident set of this process and all its descendants
    (the Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.2):
        self.period, self.peak = period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_rss() -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(pid)] = int(fields[1])
            rss[int(pid)] = int(fields[21])
        kids: dict[int, list[int]] = {}
        for pid, pp in parent.items():
            kids.setdefault(pp, []).append(pid)
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(kids.get(pid, []))
        return total * os.sysconf("SC_PAGE_SIZE")

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_rss())


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat:
    time the hypervisor gave this VM's virtual CPUs to other guests."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    t_start = time.perf_counter()
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    spark = start_session(work, log_dir)
    session_s = time.perf_counter() - t_start
    log(f"session start: {session_s:.3f} s")
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()
    try:
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        log(f"input generation: {prepare_s:.3f} s")
        reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            reps.append(time.perf_counter() - t0)
            log(f"setup rep {rep}: {reps[-1]:.3f} s")
        t0 = time.perf_counter()
        if hasattr(wl, "warmup"):
            wl.warmup()
        warm_s = time.perf_counter() - t0
        log(f"warm-up: {warm_s:.3f} s")
        setup_s = session_s + prepare_s + statistics.median(reps) + warm_s

        lat, decl, failed = [], [], set()
        i, measured = 0, 0.0
        steal0, total0 = cpu_ticks()
        with RssSampler() as rss:
            while measured < args.seconds:
                wl.next_op(i)
                if tracer:
                    tracer.op_id = str(i)
                t0 = time.perf_counter()
                try:
                    r = wl.op(i)
                except Exception:  # noqa: BLE001 -- a failed op is counted, the run goes on
                    traceback.print_exc()
                    failed.add(i)
                    measured += time.perf_counter() - t0
                else:
                    d, total = r if isinstance(r, tuple) else (None, r)
                    lat.append(total)
                    decl.append(d)
                    measured += total
                    log(f"op {i}: {total:.3f} s (declare {d})")
                finally:
                    if tracer:
                        tracer.op_id = None
                if i not in failed:
                    try:
                        wl.check(i)
                    except Exception:  # noqa: BLE001 -- counted as a failed op
                        traceback.print_exc()
                        failed.add(i)
                i += 1
        attempted = i
        steal1, total1 = cpu_ticks()
        try:
            failed.update(wl.finish())
        except Exception:  # noqa: BLE001 -- end-of-run state is wrong: every op failed
            traceback.print_exc()
            failed.update(range(attempted))
        result = {
            "lat": lat, "decl": decl,
            "session_s": session_s, "setup_s": setup_s,
            "steal": (steal1 - steal0) / max(1, total1 - total0),
            "peak_rss": rss.peak, "rows": list(getattr(wl, "rows_per_op", [])),
            "storage": wl.storage() if hasattr(wl, "storage") else None,
            "progress": [json.loads(p.json) for p in wl.query.recentProgress]
            if getattr(wl, "query", None) is not None else [],
            "category": getattr(wl, "category", None),
            "passes": getattr(wl, "passes", None),
            "first_timed_batch": getattr(wl, "first_timed_batch", None),
        }
    finally:
        stop_session(spark)
    return {"attempted": attempted, "failed": len(failed), "result": result,
            "tracer": tracer, "log_dir": log_dir, "work": work}


def end_to_end(res: dict) -> dict:
    r = res["result"]
    lat = r["lat"]
    return {
        "setup_s": (r["setup_s"], "s"),
        "op_s_p50": (statistics.median(lat), "s"),
        "peak_rss_mb": (r["peak_rss"] / 2**20, "MB"),
    }


def workload_summary(workload: str, res: dict) -> dict[str, tuple[float, str]]:
    """The end-to-end figures under their workload-specific names."""
    r = res["result"]
    lat, rows = r["lat"], r["rows"]
    out = {"error_rate": (res["failed"] / res["attempted"], "ratio"),
           # a run on a contended host reads high here; its times are not
           # comparable with those of an uncontended run
           "host_steal": (r["steal"], "ratio")}
    if workload == "nightly_refresh":
        out["refresh_s_p50"] = (statistics.median(lat), "s")
        out["refresh_rows_per_s"] = (sum(rows) / sum(lat), "rows/s")
    elif workload == "daily_ingest":
        out["day_commit_s_p50"] = (statistics.median(lat), "s")
        out["ingest_rows_per_s"] = (sum(rows) / sum(lat), "rows/s")
        st = r["storage"]
        out["stored_bytes_per_input_byte"] = ((st["data"] + st["log"]) / st["input"], "ratio")
    else:
        qs = [t for p in r["passes"] for _, _, t in p]
        out["query_s_p50"] = (statistics.median(qs), "s")
        out["queries_per_s"] = (len(qs) / sum(qs), "1/s")
        if len(qs) >= 100:  # at least ten queries lie beyond p90
            out["query_s_p90"] = (statistics.quantiles(qs, n=10)[-1], "s")
    return out


def tracing_overhead(args, res: dict, results_dir: str) -> float | None:
    """Traced over untraced median op latency, minus 1, against the
    last untraced run of the same workload and seed, if there is one."""
    mine = os.path.join(results_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(mine, "w") as fh:
        json.dump({"op_s_p50": statistics.median(res["result"]["lat"])}, fh)
    base = os.path.join(results_dir, f"{args.workload}-{args.seed}-trace0.json")
    if not args.trace or not os.path.exists(base):
        return None
    with open(base) as fh:
        untraced = json.load(fh)["op_s_p50"]
    return statistics.median(res["result"]["lat"]) / untraced - 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    res = run(args)
    summary = workload_summary(args.workload, res)
    results_dir = os.path.join(ROOT, ".perfbench_work", "results")
    os.makedirs(results_dir, exist_ok=True)
    overhead = tracing_overhead(args, res, results_dir)
    if overhead is not None:
        summary["tracing_overhead"] = (overhead, "ratio")
    print(f"{args.workload}: " + ", ".join(
        f"{k}={v:.4g} {u}" for k, (v, u) in summary.items()))
    if args.trace:
        from layers import per_layer

        metrics = per_layer(args.workload, res)
    else:
        metrics = end_to_end(res)
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

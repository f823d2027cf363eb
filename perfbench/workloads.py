"""The benchmark's three closed-loop workloads.

Each workload is driven by one client in one process and calls the
package's public entry points on inputs generated from the run's seed
(``gen.py``).  The runner (``run.py``) calls, in order:

* ``prepare()`` once -- write the seeded inputs;
* ``setup(rep)`` ``SETUP_REPS`` times -- build the initial state the
  timed ops start from (each rep in fresh directories; the last one is
  kept);
* ``warmup()`` -- one untimed op, so the timed ops find the plans,
  caches and JIT warm;
* ``next_op(i)`` -- stage op ``i``'s input, untimed;
* ``op(i)`` -- the timed unit of work; returns the seconds it took
  and, with the declaration split out, ``(declare_s, total_s)``;
* ``check(i)`` -- verify op ``i``'s output, untimed; ``finish()``
  verifies end-of-run state and returns the ops it found wrong.  An
  op that raises or fails a check counts as failed.

Spark jobs are labelled ``pb|<workload>|<op>|<phase>`` so the traced
run can attribute event-log counters to ops and phases.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import time

import numpy as np

import gen

#: nightly_refresh sizing: bootstrap fact rows, new crashes and re-sent
#: rows per night window, intersection circles
NIGHT_FACT_ROWS = 5_000
NIGHT_NEW = 500
NIGHT_RESENT = 100
N_CIRCLES = 2_000
#: daily_ingest: rows per day file, ~10% of them re-sent
DAY_ROWS = 3_000
DAY_RESENT_SHARE = 0.1
#: query_battery: harness table scale (sf0.01 ~ 60k lineitem rows)
BATTERY_SF = 0.005
#: bench.HEADLINE rows in the battery, two per category.  The run's
#: cold warm-up pass bounds how many fit a run's time budget; these
#: cover the spatial circle join, ``share_corpus_subtree`` (minhash),
#: the pandas-UDF workers (IVF) and window-heavy temporal plans
BATTERY = {
    "relational": ["q1_pricing_summary", "j7_circle_containment_agg"],
    "corpus": ["dedup_minhash_lsh", "text_quality"],
    "vector": ["sim_bruteforce_topk", "sim_ivf_topk"],
    "temporal": ["sessionize_events", "asof_join_events"],
}

DAY0 = dt.date(2024, 3, 1)


class CheckFailed(Exception):
    pass


def _label(spark, workload: str, op, phase: str) -> None:
    spark.sparkContext.setJobDescription(f"pb|{workload}|{op}|{phase}")


#: the directory under a TxTable root that holds its commit log
TXTABLE_LOG_DIR = "_txlog"


def _dir_bytes(path: str) -> tuple[int, int]:
    """(data bytes, commit-log bytes) on disk under a TxTable root."""
    log_dir = os.path.join(path, TXTABLE_LOG_DIR)
    if not os.path.isdir(log_dir):
        raise CheckFailed(f"no {TXTABLE_LOG_DIR} under {path}: TxTable layout changed")
    data = log = 0
    for root, _, files in os.walk(path):
        size = sum(os.path.getsize(os.path.join(root, f)) for f in files)
        if root == log_dir or root.startswith(log_dir + os.sep):
            log += size
        else:
            data += size
    return data, log


def write_dims(base: str, seed: int) -> gen.CrashWorld:
    os.makedirs(base, exist_ok=True)
    rng = np.random.default_rng(seed)
    gen.write_districts(rng, os.path.join(base, "districts.parquet"))
    gen.write_crosswalk(os.path.join(base, "crosswalk.parquet"))
    world = gen.CrashWorld(seed, N_CIRCLES)
    world.write_intersections(os.path.join(base, "intersections.parquet"))
    return world


class NightlyRefresh:
    """Repeated nights of ``plans.nightly.run_nightly`` with an
    ``updates_feed``: each night reads a feed window against the
    previous night's enriched fact table and intersections, and writes
    the new ``crashes``, ``intersections`` and ``highcrash``."""

    name = "nightly_refresh"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.rows_per_op: list[int] = []

    def prepare(self) -> None:
        self.world = write_dims(self.work, self.seed)
        self.first_id = self.world.next_id
        self.boot_path = os.path.join(self.work, "boot.json")
        gen.write_json_lines(self.world.fresh(NIGHT_FACT_ROWS, DAY0), self.boot_path)

    def _dims(self):
        r = self.spark.read
        return (r.parquet(os.path.join(self.work, "districts.parquet")),
                r.parquet(os.path.join(self.work, "crosswalk.parquet")))

    def _night(self, feed, updates, crashes, intersections, out: str, day: dt.date, tag):
        from nyc_crash_mapper_etl_script_spark.plans import nightly

        districts, crosswalk = self._dims()
        _label(self.spark, self.name, tag, "declare")
        t0 = time.perf_counter()
        res = nightly.run_nightly(
            feed, crashes, districts, intersections, crosswalk,
            updates_feed=updates, reference_date=day.isoformat(),
        )
        t1 = time.perf_counter()
        _label(self.spark, self.name, tag, "exec")
        for k in ("crashes", "intersections", "highcrash"):
            res[k].write.mode("overwrite").parquet(os.path.join(out, k))
        t2 = time.perf_counter()
        self.spark.sparkContext.setJobDescription(None)
        return t1 - t0, t2 - t0

    def setup(self, rep: int) -> None:
        """Write the previous night's fact table and intersections: the
        bootstrap crashes through ``normalize_soda_feed``, with dense
        ``cartodb_id`` in key order from 1 and every enrichment column
        NULL ("not yet computed"; the first night fills them)."""
        from pyspark.sql import functions as F

        from nyc_crash_mapper_etl_script_spark.operators.ingest import normalize_soda_feed
        from nyc_crash_mapper_etl_script_spark.schemas import CRASHES_SCHEMA, SODA_FEED_SCHEMA

        out = os.path.join(self.work, f"state{rep}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(os.path.join(out, "intersections"))
        _label(self.spark, self.name, f"setup{rep}", "bootstrap")
        fact = normalize_soda_feed(
            self.spark.read.schema(SODA_FEED_SCHEMA).json(self.boot_path)
        ).withColumn("cartodb_id", F.col("socrata_id") - (self.first_id - 1))
        fact.select([
            F.col(f.name).cast(f.dataType) if f.name in fact.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in CRASHES_SCHEMA.fields
        ]).coalesce(1).write.parquet(os.path.join(out, "crashes"))
        self.spark.sparkContext.setJobDescription(None)
        shutil.copy(os.path.join(self.work, "intersections.parquet"),
                    os.path.join(out, "intersections", "part-0.parquet"))
        if rep:
            shutil.rmtree(os.path.join(self.work, f"state{rep - 1}"), ignore_errors=True)
        self.prev = out
        self.rows = NIGHT_FACT_ROWS

    def warmup(self) -> None:
        """One untimed night: compiles and caches what every night
        reuses."""
        self.next_op("warm")
        self.op("warm")
        self._advance()
        self.rows += NIGHT_NEW

    def next_op(self, i) -> None:
        self.day = self.day + dt.timedelta(days=1) if hasattr(self, "day") else DAY0
        resent = self.world.resend(NIGHT_RESENT, self.day)
        self.feed_path = os.path.join(self.work, f"feed{i}.json")
        self.updates_path = os.path.join(self.work, f"updates{i}.json")
        gen.write_json_lines(gen.concat(self.world.fresh(NIGHT_NEW, self.day), resent),
                             self.feed_path)
        gen.write_json_lines(resent, self.updates_path)
        self.out = os.path.join(self.work, f"night{i}")

    def op(self, i) -> tuple[float, float]:
        from nyc_crash_mapper_etl_script_spark.schemas import SODA_FEED_SCHEMA

        feed = self.spark.read.schema(SODA_FEED_SCHEMA).json(self.feed_path)
        updates = self.spark.read.schema(SODA_FEED_SCHEMA).json(self.updates_path)
        crashes = self.spark.read.parquet(os.path.join(self.prev, "crashes"))
        inters = self.spark.read.parquet(os.path.join(self.prev, "intersections"))
        return self._night(feed, updates, crashes, inters, self.out, self.day, i)

    def check(self, i: int) -> None:
        from pyspark.sql import functions as F

        from nyc_crash_mapper_etl_script_spark.operators.topk import top_k

        _label(self.spark, self.name, i, "check")
        r = self.spark.read
        try:
            c = r.parquet(os.path.join(self.out, "crashes")).agg(
                F.count("*").alias("n"),
                F.countDistinct("cartodb_id").alias("ids"),
                F.min("cartodb_id").alias("lo"),
                F.max("cartodb_id").alias("hi"),
                F.countDistinct("socrata_id").alias("keys"),
            ).first()
            # the next night is checked against what this one wrote
            prior, self.rows = self.rows, c.n
            self.rows_per_op.append(c.n)
            expect = prior + NIGHT_NEW
            if not (c.n == c.ids == c.keys == expect and c.lo == 1 and c.hi == expect):
                raise CheckFailed(
                    f"night {i}: crashes {c.asDict()}; want {expect} rows"
                    f" ({prior} prior + {NIGHT_NEW} new keys), ids dense 1..{expect}")
            inters = r.parquet(os.path.join(self.out, "intersections"))
            want = top_k(inters.where(F.col("crashcount") > 0), "crashcount", 500,
                         "cartodb_id").select("cartodb_id", "crashcount").collect()
            got = r.parquet(os.path.join(self.out, "highcrash")).select(
                "cartodb_id", "crashcount").collect()
            if sorted(map(tuple, got)) != sorted(map(tuple, want)) or not got:
                raise CheckFailed(f"night {i}: highcrash differs from top_k(intersections)")
        finally:
            self.spark.sparkContext.setJobDescription(None)
            self._advance()

    def _advance(self) -> None:
        """The night's output becomes the next night's input."""
        shutil.rmtree(self.prev, ignore_errors=True)
        os.remove(self.feed_path)
        os.remove(self.updates_path)
        self.prev = self.out

    def finish(self) -> list:
        return []


class DailyIngest:
    """One long-running ``plans.continuous.continuous_nightly`` query;
    each op lands one seeded day file atomically in the feed directory
    and waits in ``processAllAvailable()``."""

    name = "daily_ingest"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.query = None
        self.rows_per_op: list[int] = []

    def prepare(self) -> None:
        write_dims(self.work, self.seed)

    def setup(self, rep: int) -> None:
        from nyc_crash_mapper_etl_script_spark.plans.continuous import continuous_nightly

        if self.query is not None:
            self._stop()
            shutil.rmtree(self.base, ignore_errors=True)
        self.base = os.path.join(self.work, f"rep{rep}")
        self.feed_dir = os.path.join(self.base, "feed")
        self.stage_dir = os.path.join(self.base, "stage")
        for d in (self.feed_dir, self.stage_dir):
            os.makedirs(d)
        self.world = gen.CrashWorld(self.seed, N_CIRCLES)
        self.input_bytes = 0
        r = self.spark.read
        self.intersections = r.parquet(os.path.join(self.work, "intersections.parquet"))
        _label(self.spark, self.name, f"setup{rep}", "start")
        self.query = continuous_nightly(
            self.spark, self.feed_dir,
            os.path.join(self.base, "table"), os.path.join(self.base, "rollup"),
            os.path.join(self.base, "ckpt"),
            r.parquet(os.path.join(self.work, "districts.parquet")),
            self.intersections,
            r.parquet(os.path.join(self.work, "crosswalk.parquet")),
            trigger_available_now=False,
        )
        self.spark.sparkContext.setJobDescription(None)
        # the bootstrap day: creates the fact and rollup tables
        self.day = DAY0
        self.next_op("boot")
        self.op("boot")

    def warmup(self) -> None:
        """One untimed day with re-sent rows: the first to take the
        merge and signed-rollup-repair path."""
        self.next_op("warm")
        self.op("warm")
    def _stop(self) -> None:
        self.query.stop()
        self.query.awaitTermination(120)

    def next_op(self, i) -> None:
        self.day += dt.timedelta(days=1)
        n_resent = int(DAY_ROWS * DAY_RESENT_SHARE) if self.world.delivered else 0
        cols = self.world.fresh(DAY_ROWS - n_resent, self.day)
        if n_resent:
            cols = gen.concat(cols, self.world.resend(n_resent, self.day))
        self.staged = os.path.join(self.stage_dir, f"day-{self.day.isoformat()}.json")
        self.input_bytes += gen.write_json_lines(cols, self.staged)

    def op(self, i) -> float:
        if i == 0:
            self.first_timed_batch = self.query.lastProgress["batchId"] + 1
        t0 = time.perf_counter()
        os.rename(self.staged, os.path.join(self.feed_dir, os.path.basename(self.staged)))
        self.query.processAllAvailable()
        dt_s = time.perf_counter() - t0
        if isinstance(i, int):
            self.rows_per_op.append(DAY_ROWS)
        return dt_s

    def check(self, i: int) -> None:
        if self.query.exception() is not None:
            raise CheckFailed(f"stream failed: {self.query.exception()}")

    def finish(self) -> list:
        """The fact table holds exactly the distinct keys delivered and
        the incremental rollup equals a full recompute; if not, every
        op built the wrong state."""
        from nyc_crash_mapper_etl_script_spark.operators.enrichment import (
            intersection_crash_counts,
        )
        from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable

        self._stop()
        _label(self.spark, self.name, "final", "check")
        try:
            fact = TxTable(os.path.join(self.base, "table"), partition_by=["__ym"]).read(self.spark)
            keys = np.sort(np.array([r[0] for r in fact.select("socrata_id").collect()]))
            want = np.sort(self.world.keys())
            if len(keys) != len(want) or not np.array_equal(keys, want):
                raise CheckFailed(
                    f"fact table holds {len(keys)} keys, {len(np.unique(keys))} distinct;"
                    f" {len(want)} delivered")
            got = TxTable(os.path.join(self.base, "rollup")).read(self.spark)
            full = intersection_crash_counts(fact, self.intersections, months_window=None)
            if sorted(map(tuple, got.select("cartodb_id", "howmany").collect())) != sorted(
                map(tuple, full.select("cartodb_id", "howmany").collect())
            ):
                raise CheckFailed("rollup differs from intersection_crash_counts(fact)")
        finally:
            self.spark.sparkContext.setJobDescription(None)
        return []

    def storage(self) -> dict[str, float]:
        """Bytes on disk (data files, commit log) and commit counts of
        the fact and rollup tables, and the day-file bytes delivered."""
        from nyc_crash_mapper_etl_script_spark.sources.txtable import TxTable

        out = dict.fromkeys(["data", "log", "commits", "files_added", "files_removed"], 0)
        for t in ("table", "rollup"):
            path = os.path.join(self.base, t)
            d, lg = _dir_bytes(path)
            out["data"] += d
            out["log"] += lg
            hist = TxTable(path).history()
            out["commits"] += len(hist)
            out["files_added"] += sum(h["files_added"] for h in hist)
            out["files_removed"] += sum(h["files_removed"] for h in hist)
        out["input"] = self.input_bytes
        return out


class QueryBattery:
    """``bench.HEADLINE`` harness queries (the ``BATTERY`` subset) over
    generated harness tables.  One op is one pass over the battery in a
    seeded order; each query is declared and executed to the noop sink.
    A pass, not a query, is the op: the median of eight different
    queries jumps between whichever two sit in the middle, while a
    pass's time moves only when the queries do."""

    name = "query_battery"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.rng = np.random.default_rng(seed)
        self.names = [n for names in BATTERY.values() for n in names]
        self.category = {n: c for c, names in BATTERY.items() for n in names}
        #: per timed pass: (query, declare_s, total_s) in run order
        self.passes: list[list[tuple[str, float, float]]] = []
        self.counts: dict[str, int] = {}

    def prepare(self) -> None:
        from nyc_crash_mapper_etl_script_spark import harness

        self.queries = harness.queries()
        missing = [n for n in self.names if n not in self.queries]
        if missing:
            raise SystemExit(f"battery queries missing from harness: {missing}")

    def setup(self, rep: int) -> None:
        """Write the seeded harness tables (the battery's only state)."""
        if rep:
            shutil.rmtree(self.sf_dir)
        self.sf_dir = os.path.join(self.work, f"sf{rep}")
        gen.write_tpch(self.seed, BATTERY_SF, self.sf_dir)

    def warmup(self) -> None:
        """One untimed pass in the run's seeded order warms every plan
        shape."""
        self.next_op("warm")
        self._pass("warm")

    def _pass(self, tag) -> tuple[list[tuple[str, float, float]], dict]:
        times, dfs = [], {}
        for name in self.order:
            _label(self.spark, self.name, tag, "declare")
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            _label(self.spark, self.name, tag, "exec")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            times.append((name, t1 - t0, t2 - t0))
            dfs[name] = df
        self.spark.sparkContext.setJobDescription(None)
        return times, dfs

    def next_op(self, i) -> None:
        self.order = list(self.rng.permutation(self.names))

    def op(self, i: int) -> tuple[float, float]:
        times, self.last_dfs = self._pass(i)
        self.passes.append(times)
        return sum(d for _, d, _ in times), sum(t for _, _, t in times)

    def check(self, i: int) -> None:
        """Count the rows of each query's first timed DataFrame; the
        counts are compared with the DuckDB twins in ``finish``."""
        _label(self.spark, self.name, i, "check")
        for name, df in self.last_dfs.items():
            if name not in self.counts:
                self.counts[name] = df.count()
        self.spark.sparkContext.setJobDescription(None)

    def finish(self) -> list:
        """Each query's row count equals its DuckDB twin's; every pass
        ran every query, so one count that differs fails every op."""
        import duckdb

        from nyc_crash_mapper_etl_script_spark import harness
        from nyc_crash_mapper_etl_script_spark.schemas import TESTDATA_TABLES

        oracles = harness.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TESTDATA_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf_dir, t)}.parquet'")
            bad = {}
            for n, got in sorted(self.counts.items()):
                want = con.execute(f"SELECT count(*) FROM ({oracles[n]})").fetchone()[0]
                if got != want:
                    bad[n] = f"{n}: spark {got} rows, duckdb {want}"
        finally:
            con.close()
        if bad:
            print("query_battery: " + "; ".join(bad.values()), file=sys.stderr)
            return list(range(len(self.passes)))
        return []


WORKLOADS = {w.name: w for w in (NightlyRefresh, DailyIngest, QueryBattery)}

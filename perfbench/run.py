#!/usr/bin/env python3
"""The repository benchmark: a fleet report and analyst queries, each a
closed loop with one client in one process.

Run from the repository root:

    python3 perfbench/run.py --workload fleet_report --seed 1 --seconds 18 --trace 0

``--trace 0`` sets up ``SETUPS`` times (session start, package shipping,
input generation, warm-up), runs the workload's operation back to back
until ``--seconds`` of operation time is spent, checks every output, and
prints the end-to-end metrics. ``--trace 1`` sets up once, runs the
workload's traced pass, and prints the per-layer metrics.
The last stdout line is one JSON object. perfbench/NOTES.md explains the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench"  # spans are written here; nothing else stays
WORK = OUT / "work"
SETUPS = 2
CORES = 2  # Spark local[CORES]: the driver and the JVM's own threads
# keep two vCPUs of a 4-vCPU host
NOERR = "No error"

sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import gen  # noqa: E402
from sparkstats import (  # noqa: E402
    RETAINED,
    StatusStore,
    engine_metrics,
    grouped_map_metrics,
    peak_rss_mb,
)

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_p75_ms": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "algorithms.scoring_s": "s",
    "algorithms.capacity_changes_s": "s",
    "algorithms.w1_grid_s": "s",
    "algorithms.time_shifts_s": "s",
    "algorithms.loss_factors_s": "s",
    "algorithms.site_errors": "count",
    "solvers.tl1_l2d2p365_ms": "ms",
    "solvers.l2_l1d1_l2d2p365_ms": "ms",
    "solvers.l1_pwc_smoothper_trend_ms": "ms",
    "solvers.l2_l1d2_constrained_ms": "ms",
    "solvers.loss_components_ms": "ms",
    "parallel.tasks": "count",
    "parallel.task_s": "s",
    "parallel.task_skew": "ratio",
    "parallel.busy_frac": "ratio",
    "operators.standardize_s": "s",
    "operators.daily_statistics_s": "s",
    "operators.clipping_stats_s": "s",
    "operators.dataset_report_s": "s",
    "operators.standardize_rows_out": "count",
    "registry.build_ms": "ms",
    "registry.exec_ms": "ms",
    "session.read_table_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.task_s": "s",
    "spark.stage_wall_s": "s",
    "spark.driver_gap_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "trace.overhead_ms": "ms",
}


def configure_environment(cpus: int) -> None:
    """Point every file Spark, the JVM and Python write into ``WORK`` and
    fix the session settings the measurements depend on. Must run before
    the first SparkSession is created."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # no JVM writes perf data under /tmp: neither spark-submit's launcher
    # nor the driver (its flag is in the driver options below)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": RETAINED,
        "spark.ui.retainedStages": RETAINED,
        "spark.ui.retainedTasks": RETAINED * 10,
        "spark.sql.warehouse.dir": WORK / "warehouse",
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    args += [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell",
    ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


def start_session():
    from solar_data_tools_spark.session import get_spark
    from solar_data_tools_spark.shipping import ensure_package_on_executors

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_package_on_executors(spark)
    return spark


def _import_solver_modules(batches):
    import solar_data_tools_spark.algorithms.daily_flags  # noqa: F401
    import solar_data_tools_spark.algorithms.loss_factors  # noqa: F401
    import solar_data_tools_spark.algorithms.scoring  # noqa: F401

    yield from batches


def warm_workers(spark) -> None:
    """A Python worker per core with the solver modules imported."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n * 8).repartition(n).mapInPandas(
        _import_solver_modules, "id long"
    ).count()


def warm_up(spark, parquet: Path) -> None:
    """Fixed warm-up: a parquet scan + shuffle aggregate + join for
    codegen."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(str(parquet))
    key = df.columns[0]
    agg = df.groupBy(key).agg(F.count("*").alias("n"))
    df.join(agg, key).agg(F.sum("n")).collect()


def stop_spark() -> None:
    """Stop the running SparkContext, if any, and wait for the JVM to
    exit."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Tracer:
    """Spans (name, start, end, parent) kept in memory. Each span runs its
    Spark jobs under its own job group, so jobs and stages can be
    attributed to the span afterwards."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_s(self, rec: dict) -> float:
        """Duration minus the part covered by child spans."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - sum(
            s["end"] - s["start"] for s in kids
        )

    def jobs_of(self, jobs: dict, name: str) -> list:
        groups = {f"span-{s['id']}" for s in self.named(name)}
        return [j for j in jobs.values() if j.group in groups]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


def span_cost_s(spark, n: int = 200) -> float:
    """Mean wall of an empty top-level span: what tracing adds per span."""
    t = Tracer(spark)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("empty"):
            pass
    return (time.perf_counter() - t0) / n


def layer_metrics(t: Tracer, store: StatusStore, jobs: dict, stages: dict):
    def self_sum(name):
        return sum(t.self_s(s) for s in t.named(name))

    def median_ms(name):
        d = [(s["end"] - s["start"]) * 1000 for s in t.named(name)]
        return statistics.median(d) if d else 0.0

    out = {
        "plans.build_s": self_sum("plans.build"),
        "plans.build_jobs": float(len(t.jobs_of(jobs, "plans.build"))),
        "registry.build_ms": median_ms("registry.build"),
        "registry.exec_ms": median_ms("registry.exec"),
        "session.read_table_ms": median_ms("session.read_table"),
    }
    for key in ("standardize", "daily_statistics", "clipping_stats",
                "dataset_report"):
        out[f"operators.{key}_s"] = self_sum(f"operators.{key}")
    gm_stages = set()
    for key in ("scoring", "capacity_changes", "w1_grid", "time_shifts",
                "loss_factors"):
        out[f"algorithms.{key}_s"] = self_sum(f"algorithms.{key}")
        for j in t.jobs_of(jobs, f"algorithms.{key}"):
            gm_stages.update(j.stage_ids)
    out.update(grouped_map_metrics(
        store, [stages[s] for s in sorted(gm_stages)], store.cores))
    return out


def ckpt(df):
    from solar_data_tools_spark.session import materialize_df

    return materialize_df(df, "local", eager=True)


# ----------------------------------------------------------------- workloads
class Workload:
    """One operation type run in a closed loop. ``stage`` writes the
    seeded inputs and ``warm_op`` warms what the op will run, both billed
    to set-up; ``op`` is the timed unit; ``check`` returns (attempted,
    failed) for one op's output; ``trace`` is the traced pass."""

    sites = 0
    block = 1  # the loop ends on a whole number of blocks of ops

    def __init__(self, seed: int):
        self.seed = seed
        self.input = WORK / "input"

    def warm_op(self, spark) -> None:
        pass

    def prepare_checks(self) -> None:
        """Untimed preparation of the correctness reference."""

    def op_units(self) -> int:
        return self.sites


class FleetReport(Workload):
    """``run_fleet_pipeline`` with every leg on, loss factors included."""

    name = "fleet_report"
    CADENCES = [15] * CORES  # minutes, one site each: a site per core
    DAYS = 366  # more than a year, so the loss-factor leg runs
    CAPACITY_TOL = 0.05  # relative, against the planted clip level

    def stage(self) -> None:
        self.plans = gen.plan_fleet(self.seed, self.CADENCES, self.DAYS, 1, 1)
        pdf = gen.fleet_frame(self.plans, self.DAYS, self.seed)
        self.sites = len(self.plans)
        self.path = self.input / "fleet.parquet"
        self.path.parent.mkdir(parents=True, exist_ok=True)
        gen.write_parquet(pdf, self.path)

    def warm_op(self, spark) -> None:
        """The grouped-map stages run Python workers; the registry queries
        run none."""
        warm_workers(spark)

    def _pipeline(self, meas):
        from solar_data_tools_spark.plans.fleet import run_fleet_pipeline

        return run_fleet_pipeline(
            meas, fix_shifts=True, correct_tz=True, run_loss_analysis=True
        )

    def op(self, spark, i: int):
        from solar_data_tools_spark.session import read_table

        meas = read_table(spark, str(self.path))
        return self._pipeline(meas).report.toPandas()

    def check(self, rep) -> tuple[int, int]:
        """One row per planted site, no stage error, and the plants found:
        a shifted site reports a time-shift correction, a dropped site a
        capacity change, and a site without a drop reports its clip level
        as capacity (after a drop the array no longer clips, so a dropped
        site's capacity depends on when the drop came)."""
        rows = {int(r.site): r for r in rep.itertuples()}
        failed = max(len(rep) - len(self.plans), 0)
        for p in self.plans:
            r = rows.get(p.site)
            if r is None:
                bad = ["missing"]
            else:
                bad = [what for what, ok in (
                    ("error", r.run_pipeline_error == NOERR),
                    ("loss error", r.run_loss_analysis_error == NOERR),
                    ("num_days", r.num_days == self.DAYS),
                    ("sampling", r.sampling_minutes == p.cadence_min),
                    ("time shift",
                     p.shift_day is None or r.time_shift_correction),
                    ("capacity change",
                     p.cap_drop_day is None or r.capacity_change),
                    ("capacity", p.cap_drop_day is not None
                     or abs(r.capacity / p.clip_kw - 1) < self.CAPACITY_TOL),
                ) if not ok]
            if bad:
                failed += 1
                print(f"check: {p}: {bad}", file=sys.stderr)
        return len(self.plans), failed

    def trace(self, spark, t: Tracer, store: StatusStore, seconds: float):
        """The op with spans around its three steps, then one checkpointed
        pass through the layers and the solver probe. A second, untraced
        op would differ from the traced one by seconds of host noise, so
        the overhead is the measured cost of the op's spans instead."""
        from solar_data_tools_spark.session import read_table

        t0 = time.perf_counter()
        with t.span("op"):
            with t.span("session.read_table"):
                meas = read_table(spark, str(self.path))
            with t.span("plans.build"):
                fleet = self._pipeline(meas)
            with t.span("report"):
                rep = fleet.report.toPandas()
        lat = [time.perf_counter() - t0]
        op_spans = len(t.spans)
        jobs_end = len(store.jobs())
        attempted, failed = self.check(rep)
        with t.span("walk"):
            metrics, daily = self._walk(spark, t, meas)
        metrics.update(solver_probe(daily))
        overhead_ms = span_cost_s(spark) * op_spans * 1000
        return lat, jobs_end, attempted, failed, overhead_ms, metrics

    def _walk(self, spark, t: Tracer, meas):
        import numpy as np
        from pyspark.sql import functions as F

        from solar_data_tools_spark.algorithms.daily_flags import (
            detect_capacity_changes,
            detect_time_shifts,
        )
        from solar_data_tools_spark.algorithms.grid_search import (
            tune_time_shift_w1,
        )
        from solar_data_tools_spark.algorithms.loss_factors import (
            run_loss_factor_analysis,
        )
        from solar_data_tools_spark.algorithms.scoring import (
            daily_quality_scores,
        )

        std, daily, rows_out = walk_operators(t, meas)
        # the glue between the legs follows plans/fleet.py
        with t.span("algorithms.scoring"):
            scores = ckpt(daily_quality_scores(
                std, slots_per_day=None, capture_errors=True))
        with t.span("algorithms.capacity_changes"):
            cap = ckpt(detect_capacity_changes(daily, capture_errors=True))
        flags = scores.where(F.col("error") == NOERR).select(
            "site", "date", "clear", "no_errors", "data_clearness_score")
        use = F.when(
            F.col("data_clearness_score") >= 0.3, F.col("clear")
        ).otherwise(F.col("no_errors"))
        daily_ts = ckpt(daily.join(flags, ["site", "date"], "left").withColumn(
            "_use", F.coalesce(use, F.lit(False))))
        with t.span("algorithms.w1_grid"):
            tuned = ckpt(tune_time_shift_w1(
                daily_ts, w1_grid=[float(w) for w in np.logspace(-1, 2, 11)],
                noon_col="solar_noon_rs", use_col="_use", selection="knee",
            ).select("site", F.col("best_w1").alias("_w1")))
        with t.span("algorithms.time_shifts"):
            shifts = ckpt(detect_time_shifts(
                daily_ts.join(F.broadcast(tuned), "site", "left"),
                noon_col="solar_noon_rs", use_col="_use", round_to_hour=True,
                baseline="nearest_noon", capture_errors=True, w1_col="_w1"))
        labels = cap.where(F.col("error") == NOERR).select(
            "site", "date", "capacity_label")
        daily_loss = daily.join(labels, ["site", "date"], "left").withColumn(
            "capacity_label", F.coalesce(F.col("capacity_label"), F.lit(0)))
        with t.span("algorithms.loss_factors"):
            loss = ckpt(run_loss_factor_analysis(
                daily_loss, label_col="capacity_label", capture_errors=True))
        errors = scores.select("site", "error")
        for df in (cap, shifts, loss):
            errors = errors.unionByName(df.select("site", "error"))
        n_err = errors.where(F.col("error") != NOERR).select("site").distinct()
        metrics = {
            "operators.standardize_rows_out": float(rows_out),
            "algorithms.site_errors": float(n_err.count()),
        }
        probe_in = daily_loss.select(
            "site", "date", "energy", "solar_noon_rs", "log_day_max",
            "day_max", "capacity_label").toPandas()
        return metrics, probe_in


def walk_operators(t: Tracer, meas):
    """The operator chain ``plans.pipeline.run_pipeline(per_site=True)``
    runs for the fleet report, one checkpointed operator at a time.
    Returns the standardized and daily tables and the grid row count."""
    from pyspark.sql import functions as F

    from solar_data_tools_spark.operators.canonical import with_time_columns
    from solar_data_tools_spark.operators.daily import (
        clipping_stats,
        daily_statistics,
        dataset_report,
    )
    from solar_data_tools_spark.operators.filters import clamp_to_null
    from solar_data_tools_spark.operators.time_axis import (
        infer_sampling_seconds,
        snap_sampling_to_day_divisor,
        standardize_time_axis,
    )

    with t.span("operators.standardize"):
        sampling = snap_sampling_to_day_divisor(infer_sampling_seconds(meas))
        grid = sampling.select(
            "site", F.col("grid_seconds").alias("sampling_seconds"))
        std = ckpt(standardize_time_axis(
            clamp_to_null(meas, "value", None, None), grid))
    rows_out = std.count()
    samp = sampling.select(
        "site", F.col("grid_seconds").cast("long").alias("_samp_s"))
    std_meas = with_time_columns(
        std.join(F.broadcast(samp), "site").select(
            "site",
            F.col("grid_ts").alias("ts"),
            (F.unix_micros("grid_ts") / (F.col("_samp_s") * 1_000_000))
            .cast("long").alias("seq"),
            "value",
            "_samp_s",
        ),
        sampling_seconds="_samp_s",
    )
    with t.span("operators.daily_statistics"):
        daily = ckpt(daily_statistics(
            std_meas, approx_capacity=True, sampling_col="_samp_s"))
    with t.span("operators.clipping_stats"):
        clip = ckpt(clipping_stats(std_meas))
    daily = ckpt(daily.join(clip, on=["site", "date"], how="left"))
    with t.span("operators.dataset_report"):
        ckpt(dataset_report(daily))
    return std, daily, rows_out


SOLVER_SITES = 2
SOLVER_REPEATS = 1


def solver_probe(daily) -> dict:
    """Single-threaded kernel times on the fleet's own daily signals (the
    first ``SOLVER_SITES`` sites), median over sites and repeats. Raises
    when a kernel returns a non-finite output."""
    import numpy as np

    from solar_data_tools_spark.algorithms.loss_factors import (
        fit_loss_components,
    )
    from solar_data_tools_spark.solvers.exact import (
        cdf_grid_points,
        solve_l1_pwc_smoothper_trend,
        solve_l2_l1d1_l2d2p365,
        solve_l2_l1d2_constrained,
        solve_tl1_l2d2p365,
    )

    def cdf_fit(day_max):
        # the clipping CDF fit of algorithms/scoring.py
        cs1 = day_max / np.nanmax(day_max)
        finite = np.sort(cs1[np.isfinite(cs1) & (cs1 > 0)])
        xs = np.concatenate([[0.0], finite, [1.0]])
        x_rs = np.linspace(0.0, 1.0, cdf_grid_points(len(finite)))
        y_rs = np.interp(x_rs, xs, np.linspace(0.0, 1.0, len(xs)))
        return solve_l2_l1d2_constrained(y_rs, w1=5.0, admm_iters=1000)[0]

    kernels = {
        "tl1_l2d2p365": lambda g: solve_tl1_l2d2p365(g.energy, tau=0.9)[0],
        "l2_l1d1_l2d2p365": lambda g: solve_l2_l1d1_l2d2p365(
            g.noon, w1=5.0, w2=1e-3, use_ixs=np.isfinite(g.noon))[0],
        "l1_pwc_smoothper_trend": lambda g: solve_l1_pwc_smoothper_trend(
            g.log_max, w2=0.5, period=min(float(len(g.log_max)), 365.2425))[0],
        "l2_l1d2_constrained": lambda g: cdf_fit(g.day_max),
        "loss_components": lambda g: np.asarray(fit_loss_components(
            g.energy, capacity_labels=g.labels)["degradation_rate_pct_per_year"]),
    }
    times = {k: [] for k in kernels}
    for site in sorted(daily.site.unique())[:SOLVER_SITES]:
        d = daily[daily.site == site].sort_values("date")
        g = argparse.Namespace(
            energy=d.energy.to_numpy(float),
            noon=d.solar_noon_rs.to_numpy(float),
            log_max=d.log_day_max.to_numpy(float),
            day_max=d.day_max.to_numpy(float),
            labels=d.capacity_label.to_numpy(),
        )
        for _ in range(SOLVER_REPEATS):
            for k, fn in kernels.items():
                t0 = time.perf_counter()
                out = fn(g)
                times[k].append((time.perf_counter() - t0) * 1000)
                if not np.all(np.isfinite(out)):
                    raise RuntimeError(f"solver {k}: non-finite output")
    return {f"solvers.{k}_ms": statistics.median(v) for k, v in times.items()}


class AnalystQueries(Workload):
    """A seeded sequence of oracle-backed solar registry queries over a
    small ``events`` table; every name recurs, so the per-session
    ``read_table`` plan cache is exercised."""

    name = "analyst_queries"
    NAMES = [
        "q10_daily_energy", "q11_daily_stats", "q13_daily_density",
        "q14_sampling_inference", "q19_gap_fill", "q26_asof_join",
        "q27_standardize_grid", "q30_clipping_stats",
    ]
    # the events table of the repository's test data at scale factor SF:
    # 1e6 * SF rows over 15 000 * SF users and 30 days
    SF = 0.01
    PLAN_PASSES = 4
    block = len(NAMES)  # whole blocks keep the query mix exact
    ROWS, USERS, DAYS = round(1e6 * SF), round(15_000 * SF), 30

    def stage(self) -> None:
        self.sf = self.input / "sf"
        self.sf.mkdir(parents=True, exist_ok=True)
        gen.write_parquet(
            gen.events_frame(self.seed, self.ROWS, self.USERS, self.DAYS),
            self.sf / "events.parquet")
        rng = random.Random(self.seed)
        self.sequence = []
        for _ in range(1000):  # whole shuffled blocks keep the mix even
            block = list(self.NAMES)
            rng.shuffle(block)
            self.sequence += block

    def warm_op(self, spark) -> None:
        """Each query once, so the measured queries are not first uses,
        then ``PLAN_PASSES`` passes that only plan each query, so the JIT
        has compiled the driver's analyzer, optimizer and planner."""
        from solar_data_tools_spark.registry import QUERIES

        for name in self.NAMES:
            self._query(spark, name)
        for _ in range(self.PLAN_PASSES):
            for name in self.NAMES:
                QUERIES[name].fn(spark, str(self.sf))._jdf.queryExecution(
                ).executedPlan()

    def prepare_checks(self) -> None:
        import duckdb
        from oracle_utils import canonicalize

        from solar_data_tools_spark.registry import QUERIES

        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                        f"'{self.sf / 'events.parquet'}')")
            self.oracle = {n: canonicalize(con.sql(QUERIES[n].oracle).df())
                           for n in self.NAMES}
        finally:
            con.close()

    def op_units(self) -> int:
        return 1

    def _query(self, spark, name: str):
        from solar_data_tools_spark.registry import QUERIES

        return QUERIES[name].fn(spark, str(self.sf)).toPandas()

    def op(self, spark, i: int):
        name = self.sequence[i]
        return name, self._query(spark, name)

    def check(self, result) -> tuple[int, int]:
        from oracle_utils import canonicalize

        name, got = result
        if canonicalize(got) == self.oracle[name]:
            return 1, 0
        print(f"check: {name} differs from its oracle", file=sys.stderr)
        return 1, 1

    def trace(self, spark, t: Tracer, store: StatusStore, seconds: float):
        """The query loop with each query run twice in a row, once with
        spans around the registry call, its execution, and every
        ``session.read_table`` call it makes. Which run is traced
        alternates, since the second run of a pair is the faster; the
        overhead compares the traced and untraced halves."""
        import solar_data_tools_spark.registry as registry

        plain = registry.read_table

        def traced_read_table(*args, **kwargs):
            with t.span("session.read_table"):
                return plain(*args, **kwargs)

        def is_traced(i):
            return (i + i // 2) % 2 == 1

        def paired_op(spark, i):
            j = i // 2
            if not is_traced(i):
                return self.op(spark, j)
            name = self.sequence[j]
            registry.read_table = traced_read_table
            try:
                with t.span("query"):
                    with t.span("registry.build"):
                        df = registry.QUERIES[name].fn(spark, str(self.sf))
                    with t.span("registry.exec"):
                        return name, df.toPandas()
            finally:
                registry.read_table = plain

        lat, attempted, failed = run_loop(
            spark, self, seconds, paired_op, block=2)
        on = [x for i, x in enumerate(lat) if is_traced(i)]
        off = [x for i, x in enumerate(lat) if not is_traced(i)]
        overhead_ms = (statistics.median(on) - statistics.median(off)) * 1000
        return lat, len(store.jobs()), attempted, failed, overhead_ms, {}


WORKLOADS = {w.name: w for w in (FleetReport, AnalystQueries)}


# ---------------------------------------------------------------------- loop
def run_loop(spark, wl: Workload, seconds: float, op, block: int = 1):
    """Closed loop: the next op starts when the previous one returned,
    until ``seconds`` of op time is spent and the ops fill whole blocks.
    Checks run between ops, outside the timed region."""
    lat, attempted, failed, i = [], 0, 0, 0
    while sum(lat) < seconds or len(lat) % block:
        t0 = time.perf_counter()
        try:
            res = op(spark, i)
        except Exception:  # a failed op counts; the loop goes on
            lat.append(time.perf_counter() - t0)
            traceback.print_exc()
            attempted += wl.op_units()
            failed += wl.op_units()
        else:
            lat.append(time.perf_counter() - t0)
            a, f = wl.check(res)
            attempted += a
            failed += f
        i += 1
    return lat, attempted, failed


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (``statistics.quantiles``, inclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def setup(wl: Workload, times: int) -> tuple[object, list[float], float]:
    """Set up ``times`` times, stopping the session in between, then warm
    the workload up once in the last session, which stays up. Returns the
    session, each set-up's time and the warm-up time."""
    took, spark = [], None
    for _ in range(times):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session()
        wl.stage()
        warm_up(spark, next(wl.input.rglob("*.parquet")))
        took.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm_op(spark)
    warm = time.perf_counter() - t0
    wl.prepare_checks()
    return spark, took, warm


def measure(spark, wl: Workload, setups: list[float], warm: float,
            seconds: float):
    lat, attempted, failed = run_loop(spark, wl, seconds, wl.op, wl.block)
    rss = peak_rss_mb(os.getpid())
    StatusStore(spark).check_retained()
    metrics = {
        "setup_s": statistics.median(setups) + warm,
        "op_p50_ms": statistics.median(lat) * 1000,
        # an analyst run holds 40-56 queries, so 10-14 lie beyond p75
        "op_p75_ms": percentile(lat, 75) * 1000,
        "peak_rss_mb": rss,
    }
    info = {"ops": len(lat), "setups_s": setups, "warm_s": warm,
            "op_ms": [round(x * 1000) for x in lat]}
    return metrics, attempted, failed, info


def measure_traced(spark, wl: Workload, seconds: float, trace_path: Path):
    """The workload's traced pass. The engine counters cover its
    operations (the jobs started before the ops ended), per op; the layer
    counters come from its spans."""
    store = StatusStore(spark)
    t = Tracer(spark)
    first_job = len(store.jobs())
    lat, jobs_end, attempted, failed, overhead_ms, layer = wl.trace(
        spark, t, store, seconds)
    jobs, stages = store.check_retained()
    window = [j for j in jobs.values() if first_job <= j.id < jobs_end]
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    metrics.update(engine_metrics(
        [stages[s] for s in sorted({s for j in window for s in j.stage_ids})],
        sum(lat), len(lat)))
    metrics["spark.jobs"] = len(window) / len(lat)
    metrics.update(layer_metrics(t, store, jobs, stages))
    metrics.update(layer)
    metrics["trace.overhead_ms"] = overhead_ms
    t.dump(trace_path)
    info = {"ops": len(lat), "spans": len(t.spans), "trace": str(trace_path)}
    return metrics, attempted, failed, info


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import solar_data_tools_spark  # noqa: F401  fail fast outside the repo

    sys.path.insert(0, str(ROOT / "tests"))  # the DuckDB oracle comparator
    shutil.rmtree(WORK, ignore_errors=True)
    configure_environment(min(CORES, len(os.sched_getaffinity(0))))
    wl = WORKLOADS[args.workload](args.seed)
    try:
        if args.trace:
            spark, _, _ = setup(wl, 1)
            path = OUT / "traces" / f"{wl.name}-seed{args.seed}.json"
            metrics, attempted, failed, info = measure_traced(
                spark, wl, args.seconds, path)
            units = PER_LAYER
        else:
            spark, setups, warm = setup(wl, SETUPS)
            metrics, attempted, failed, info = measure(
                spark, wl, setups, warm, args.seconds)
            units = END_TO_END
    finally:
        if "pyspark" in sys.modules:
            stop_spark()
        shutil.rmtree(WORK, ignore_errors=True)

    print(f"{wl.name} seed {args.seed}: {json.dumps(info)}")
    for k, u in units.items():
        print(f"  {k:34s} {metrics[k]:14.4f} {u}")
    if not args.trace and wl.sites:  # the same number as op_p50_ms
        print(f"  {'sites_per_s':34s} "
              f"{wl.sites * 1000 / metrics['op_p50_ms']:14.4f} sites/s")
    print(f"  {'fail_frac':34s} {failed / attempted:14.4f} "
          f"({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

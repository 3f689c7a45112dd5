"""Fleet DataHandler facade — the reference's front door, fleet-wide.

One call reproduces ``DataHandler.run_pipeline(...)`` + ``report()``
(reference data_handler.py:220-716 and :718-840) for EVERY site in a
long measurement table, with the per-site, per-stage error capture of
the reference's fleet runner (sdt_dask/dask_tool/runner.py:53-175):
a site whose solver stage fails gets its error message in a column and
null metrics — it never kills the fleet job.

Report fields (reference ``report()`` keys, data_handler.py:761-782):

====================  =====================================================
column                reference attribute
====================  =====================================================
length_years          ``num_days / 365``
capacity              ``capacity_estimate`` (p95 of the day matrix)
sampling_minutes      ``data_sampling``
quality_score         ``data_quality_score``
clearness_score       ``data_clearness_score``
inverter_clipping     ``inverter_clipping``
clipped_fraction      ``sum(daily_flags.inverter_clipped)/num_days``
capacity_change       ``capacity_changes``
data_quality_warning  ``normal_quality_scores`` (clustered-score check,
                      data_handler.py:1171-1196; True = scores normal)
time_shift_correction ``time_shifts`` (any nonzero detected shift)
time_zone_correction  ``tz_correction`` (whole hours,
                      data_handler.py:622-640)
====================  =====================================================

Error columns (the runner contract): ``get_data_error`` (min-data guard,
data_handler.py:391-394), ``scoring_error``, ``capacity_change_error``,
``time_shift_error`` (a failed w1-grid solve lands here too) and
``run_loss_analysis_error`` — each "No error" or the captured message
— plus ``run_pipeline_error`` summarizing the first failing stage
before the loss leg.

Execution shape at fleet scale: the relational stages (standardize,
daily stats, report assembly) are plain DataFrame aggregations — two
keyed shuffles fleet-wide. The solvers run in two grouped-map passes
(``grouped_apply``) of one task per site: scoring over the standardized
grid, then, as the reference runner does (runner.py:53-175), the
dependent chain capacity (D3) -> w1 grid (D1 batch) -> time shift (D1)
-> loss (D5) over the daily table joined with the score flags, each
step under its own error capture. 1000 executors process 1000 sites
concurrently and a site's failure stays in its task.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solar_data_tools_spark.algorithms.daily_flags import (
    CAPACITY_FIELDS,
    TIME_SHIFT_FIELDS,
    apply_time_shift_correction,
    capacity_change_kernel,
    time_shift_kernel,
)
from solar_data_tools_spark.algorithms.grid_search import w1_grid_kernel
from solar_data_tools_spark.algorithms.loss_factors import (
    LOSS_FIELDS,
    loss_factor_kernel,
)
from solar_data_tools_spark.algorithms.scoring import daily_quality_scores
from solar_data_tools_spark.parallel import (
    NO_ERROR,
    capture_site_errors,
    grouped_apply,
    site_key_type,
)
from solar_data_tools_spark.plans.pipeline import run_pipeline
from solar_data_tools_spark.session import materialize_df

# the runner's loss gate (runner.py:117-122)
_LOSS_GATE = (
    "The length of data is less than or equal to 1 year, loss "
    "analysis will fail thus is not performed."
)
_NOT_REQUESTED = "Loss analysis not requested"


def _names(fields: str) -> list[str]:
    return [f.split()[0] for f in fields.split(", ")]


@dataclass
class FleetResult:
    standardized: DataFrame  # regular-grid long table (tz/shift corrected)
    scores: DataFrame        # per (site, date) score vectors + flags
    capacity_changes: DataFrame
    time_shifts: DataFrame
    report: DataFrame        # one row per site — the report() field set


def run_fleet_pipeline(
    measurements: DataFrame,
    sampling_seconds: int | None = None,
    slots_per_day: int | None = None,
    min_val: float | None = None,
    max_val: float | None = None,
    fix_shifts: bool = False,
    correct_tz: bool = False,
    round_shifts_to_hour: bool = True,
    time_shift_w1: float | None = None,
    run_loss_analysis: bool = False,
    site_col: str = "site",
    min_positive_values: int = 24,
    materialize: str = "local",
) -> FleetResult:
    """Run the full reference pipeline for every site and assemble the
    11-field report with per-stage error capture. See module docstring
    for the exact reference parity map.

    Stage order matches the reference: scores are computed BEFORE any
    time-shift fixing (data_handler.py:505-560 vs :585), and the tz
    check runs after shifts (:622). ``fix_shifts=True`` applies the
    detected per-day slot rolls to the returned ``standardized`` table
    (reference ``run_pipeline(fix_shifts=True)``); ``correct_tz=True``
    shifts a site's grid by the detected whole-hour offset when
    ``|offset| > 1`` (reference :629-640).

    ``materialize`` picks the fault-tolerance mode
    (``session.materialize_df``) of every stage output the report reads
    more than once — the min-data guard's failed sites, the per-site
    sampling, the standardized grid, the daily table, the per-day
    scores and the solver chain's output — so each solver
    kernel runs once per site: ``"local"`` (default — executor-local
    DISK_ONLY blocks, fastest, but an executor loss fails the job, so use on
    local[k] or dedicated non-preemptible clusters), ``"reliable"``
    (checkpoint into ``spark.sparkContext.setCheckpointDir`` — one DFS
    write per table, survives executor loss; the right mode for long
    fleet jobs on preemptible/spot executors — r11 verdict item 3), or
    ``"none"`` (fully lazy; the grid chain, the scoring kernel and the
    solver chain re-execute per consumer — only for plan audits).

    ``run_loss_analysis=True`` chains the loss-factor leg of the fleet
    runner (the kernel of ``run_loss_factor_analysis`` +
    ``loss_analysis.report()``,
    runner.py:147-175): sites with more than a year of data get the
    degradation rate and Shapley loss attribution; sites at <= 365 days
    get the runner's own gate message ("length of data is less than or
    equal to 1 year", runner.py:117-122) in ``run_loss_analysis_error``
    with null loss fields.
    """
    # ---- stage graph. A grouped-map (mapInPandas) output read by k
    # consumers runs its kernel k times unless it is materialized, so
    # every stage output with more than one consumer goes through
    # ``shared`` exactly once:
    #
    #   bad_sites    -> good, failed
    #   standardized -> daily, scores, std_out   (inside run_pipeline)
    #   sampling     -> grid, std_meas, std_out, sampling_report
    #                                            (inside run_pipeline)
    #   daily        -> chain, tz
    #   scores       -> score_report, quality_warn, chain
    #   chain        -> cap, shifts (std_out), chain_report
    #
    # cap and shifts are projections of the one chain table and run no
    # kernel.
    def shared(df: DataFrame) -> DataFrame:
        return materialize_df(df, materialize)

    # ---- get_data guard (reference data_handler.py:391-394): a site
    # with fewer than 24 non-negative readings cannot form a day matrix
    site_counts = measurements.groupBy(site_col).agg(
        F.sum((F.col("value") >= 0).cast("int")).alias("_n_pos")
    )
    bad_sites = shared(
        site_counts.where(
            F.coalesce(F.col("_n_pos"), F.lit(0)) < min_positive_values
        ).select(
            site_col,
            F.lit(
                "Insufficient data to run pipeline. "
                "Please check your data frame."
            ).alias("get_data_error"),
        )
    )
    good = measurements.join(
        F.broadcast(bad_sites.select(site_col)), site_col, "left_anti"
    )

    # ---- relational core: clamp -> standardize -> daily stats.
    # With no explicit sampling, each site grids at its OWN inferred
    # cadence (per_site mode) — the faithful fleet semantics: the
    # reference runs one site at a time, so its grid is always native,
    # and forcing a heterogeneous fleet onto one global grid turns every
    # slower site into mostly-null slots and garbage density scores.
    per_site = sampling_seconds is None and slots_per_day is None
    if sampling_seconds is None and slots_per_day is not None:
        # slots alone defines the grid: derive the sampling from it so
        # run_pipeline standardizes onto the SAME grid the scorer will
        # reshape by (letting it infer the fleet-modal sampling instead
        # would desync grid and slots and fail the whole-days contract)
        sampling_seconds = max(int(86400 // slots_per_day), 1)
    core = run_pipeline(
        good,
        sampling_seconds=sampling_seconds,
        max_val=max_val,
        min_val=min_val,
        slots_per_day=slots_per_day,
        per_site=per_site,
        materialize=materialize,
    )
    if not per_site and slots_per_day is None:
        # the grid run_pipeline standardized onto IS the explicit
        # sampling — deriving slots from the fleet's inferred modal
        # delta here would disagree with the actual grid and fail
        # every site's whole-days contract in the scorer
        slots_per_day = max(int(86400 // sampling_seconds), 1)
    daily = shared(core.daily)

    # ---- scoring stage (per-site grouped map, error-isolated)
    scores = shared(
        daily_quality_scores(
            core.standardized,
            slots_per_day=None if per_site else slots_per_day,
            site_col=site_col,
            capture_errors=True,
        )
    )

    # ---- the dependent solver chain, one grouped-map task per site:
    # capacity (D3) -> w1 grid (D1 batch) -> time shift (D1) -> loss
    # (D5), each step under its own error capture (the runner's
    # per-stage isolation, runner.py:53-175). Time shifts follow the
    # reference defaults (data_handler.py:1330-1414): srss solar noon,
    # fit masked to clear days when clearness >= 0.3 else no-error
    # days, corrections rounded to whole hours.
    flag_cols = scores.where(F.col("error") == NO_ERROR).select(
        site_col, "date", "clear", "no_errors", "data_clearness_score"
    )
    use = F.when(
        F.col("data_clearness_score") >= 0.3, F.col("clear")
    ).otherwise(F.col("no_errors"))
    chain_in = daily.join(flag_cols, [site_col, "date"], "left").select(
        site_col, "date", "log_day_max", "solar_noon_rs", "energy",
        F.coalesce(use, F.lit(False)).alias("_use"),
    )
    keys = [site_col]
    cap_cols = [site_col, "date", *_names(CAPACITY_FIELDS)]
    shift_cols = [site_col, "date", *_names(TIME_SHIFT_FIELDS)]
    loss_cols = _names(LOSS_FIELDS)
    chain_schema = (
        f"{site_col} {site_key_type(daily, site_col)}, part string, "
        f"date date, {CAPACITY_FIELDS}, {TIME_SHIFT_FIELDS}, "
        f"{LOSS_FIELDS}, error string"
    )
    chain_cols = _names(chain_schema)
    capacity = partial(
        capacity_change_kernel, metric_col="log_day_max",
        site_col=site_col, w1=0.5, round_base=0.05,
    )
    # the reference's w1=None meta-opt (time_shifts.py:70-110): holdout
    # grid over logspace(-1, 2, 11), parsimony ("knee") pick
    w1_pick = partial(
        w1_grid_kernel, w1_grid=[float(w) for w in np.logspace(-1, 2, 11)],
        holdout_frac=0.15, seed=42, noon_col="solar_noon_rs",
        site_col=site_col, use_col="_use", selection="knee", knee_tol=0.05,
    )
    time_shift = partial(
        time_shift_kernel, noon_col="solar_noon_rs", site_col=site_col,
        min_shift_hours=0.25, use_col="_use", w1_col=None,
        round_to_hour=round_shifts_to_hour, baseline="nearest_noon",
    )
    loss_fit = partial(
        loss_factor_kernel, energy_col="energy", site_col=site_col,
        label_col="capacity_label", deg_type="linear",
    )

    def shift_step(pdf: pd.DataFrame) -> pd.DataFrame:
        w1 = time_shift_w1
        if w1 is None:  # a failed grid solve is the site's shift error
            w1 = w1_pick(pdf)["best_w1"].iloc[0]
        return time_shift(pdf, w1=float(w1))

    def site_chain(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date").reset_index(drop=True)
        cap = capture_site_errors(capacity, pdf, cap_cols, keys)
        shifts = capture_site_errors(shift_step, pdf, shift_cols, keys)
        # the runner's loss leg (runner.py:147-175), gated like the
        # runner at > 365 days; capacity labels are 0 when D3 failed
        if run_loss_analysis and len(pdf) > 365:
            cap_ok = cap["error"].iloc[0] == NO_ERROR
            labels = cap["capacity_label"].to_numpy() if cap_ok else 0
            loss = capture_site_errors(
                loss_fit, pdf.assign(capacity_label=labels),
                [site_col, *loss_cols], keys,
            )
        else:
            gate = _LOSS_GATE if run_loss_analysis else _NOT_REQUESTED
            loss = pdf[keys].iloc[:1].assign(error=gate)
        parts = [
            cap.assign(part="cap"),
            shifts.assign(part="shift"),
            loss.assign(part="loss"),
        ]
        return pd.concat(parts, ignore_index=True).reindex(columns=chain_cols)

    chain = shared(grouped_apply(chain_in, keys, site_chain, chain_schema))
    cap = chain.where(F.col("part") == "cap").select(*cap_cols, "error")
    shifts = chain.where(F.col("part") == "shift").select(
        *shift_cols, "error"
    )

    # ---- standardized output: optional shift fix + tz roll
    std_out = core.standardized
    if fix_shifts:
        if per_site:
            samp = core.sampling.select(
                site_col,
                F.col("grid_seconds").cast("long").alias("_samp_s"),
            )
            base = std_out.join(F.broadcast(samp), site_col)
            spd_expr = (F.lit(86400) / F.col("_samp_s")).cast("int")
        else:
            base = std_out.withColumn(
                "_samp_s", F.lit(int(86400 // slots_per_day))
            )
            spd_expr = F.lit(int(slots_per_day))
        us_col = F.col("_samp_s") * F.lit(1_000_000)
        std_meas = base.select(
            site_col,
            F.col("grid_ts").alias("ts"),
            F.col("value"),
            F.col("_samp_s"),
            spd_expr.alias("_spd"),
            F.to_date("grid_ts").alias("date"),
            (
                (
                    F.unix_micros("grid_ts")
                    - F.unix_micros(F.date_trunc("DAY", "grid_ts"))
                )
                / us_col
            ).cast("int").alias("slot"),
        )
        fixed = apply_time_shift_correction(
            std_meas,
            shifts.where(F.col("error") == NO_ERROR),
            "_spd",
            site_col=site_col,
        )
        # the roll rewrites `slot`; rebuild the grid timestamp from
        # (date, rolled slot) so the corrected long table is canonical
        std_out = fixed.select(
            site_col,
            F.timestamp_micros(
                F.unix_micros(F.col("date").cast("timestamp"))
                + F.col("slot").cast("long")
                * F.col("_samp_s")
                * F.lit(1_000_000)
            ).alias("grid_ts"),
            "value",
        )

    # ---- tz check (reference :622-640): offset = round(12 - mean noon).
    # Computed from the PRE-fix daily noon (the reference reads the
    # post-fix matrix, :623): a whole-hour tz offset survives the
    # sub-hour shift fix by construction, so the rounded offset agrees;
    # documented divergence kept for one fewer pass over the fleet.
    tz = (
        daily.groupBy(site_col)
        .agg(F.avg("solar_noon_rs").alias("_noon"))
        .select(
            site_col,
            F.when(
                F.abs(F.round(F.lit(12.0) - F.col("_noon"))) > 1,
                F.round(F.lit(12.0) - F.col("_noon")).cast("int"),
            )
            .otherwise(F.lit(0))
            .alias("time_zone_correction"),
        )
    )
    if not correct_tz:
        tz = tz.select(
            site_col, F.lit(0).alias("time_zone_correction")
        )
    # Divergence from the reference's roll (data_handler.py:629-640):
    # the reference rolls VALUES circularly within the fixed day index
    # (np.roll semantics — hours shifted past midnight wrap into the
    # same day), while this shifts grid_ts, so corrected values spill
    # into the neighbouring day and the first/last |offset| hours of
    # the span move outside it. Interior-day daytime windows (what
    # every downstream scoring/fit stage consumes) are identical under
    # both; only the two boundary days and the midnight wrap differ —
    # kept because a timestamp shift is shuffle-free while a roll costs
    # a per-day window, and because wrapped-into-the-wrong-day values
    # are an artifact, not data. Sub-day shift correction (fix_shifts)
    # DOES roll within days, matching the reference exactly.
    if correct_tz:
        std_out = (
            std_out.join(F.broadcast(tz), site_col, "left")
            .withColumn(
                "grid_ts",
                F.timestamp_micros(
                    F.unix_micros("grid_ts")
                    + F.coalesce(F.col("time_zone_correction"), F.lit(0))
                    .cast("long")
                    * F.lit(3_600_000_000)
                ),
            )
            .drop("time_zone_correction")
        )

    # ---- report assembly (all relational, one agg per stage table)
    ok = F.col("error") == NO_ERROR
    score_report = scores.groupBy(site_col).agg(
        F.count("date").alias("num_days"),
        F.first("capacity_estimate", ignorenulls=True).alias("capacity"),
        F.first("data_quality_score", ignorenulls=True).alias(
            "quality_score"
        ),
        F.first("data_clearness_score", ignorenulls=True).alias(
            "clearness_score"
        ),
        F.first("inverter_clipping", ignorenulls=True).alias(
            "inverter_clipping"
        ),
        F.avg(F.col("clipped").cast("int")).alias("clipped_fraction"),
        F.first("error").alias("scoring_error"),
    )

    # normal_quality_scores (data_handler.py:1171-1196): per score
    # cluster, count days violating the flag thresholds; scores are
    # "normal" when ANY cluster keeps violations <= max(0.005*n, 1),
    # i.e. when the cluster with the fewest does (n = the site's days)
    viol = (
        (F.col("linearity") > 0.1)
        | (F.col("density") < 0.6)
        | (F.col("density") > 1.05)
    ).cast("int")
    quality_warn = (
        scores.where(ok)
        .groupBy(site_col, "quality_clustering")
        .agg(F.sum(viol).alias("_v"), F.count("*").alias("_c"))
        .groupBy(site_col)
        .agg(
            (
                F.min("_v")
                <= F.greatest(F.lit(0.005) * F.sum("_c"), F.lit(1.0))
            ).alias("data_quality_warning")
        )
    )

    # the chain's report fields in one aggregation, each over its part.
    # The reference flags time_shifts when the roll series has a
    # CHANGEPOINT (data_handler.py:1411-1414, len(index_set) > 0) — a
    # constant offset is a baseline choice, not a shift; >= 2 distinct
    # roll values <=> at least one step
    def of(part: str, c: str):
        return F.when(F.col("part") == part, F.col(c))

    def first(part: str, c: str):
        return F.first(of(part, c), ignorenulls=True)

    chain_report = chain.groupBy(site_col).agg(
        (F.max(of("cap", "cap_changed").cast("int")) > 0).alias(
            "capacity_change"
        ),
        first("cap", "error").alias("capacity_change_error"),
        # null, like capacity_change, when the site's shift stage failed
        F.when(
            first("shift", "error") == NO_ERROR,
            F.count_distinct(of("shift", "shift_hours")) > 1,
        ).alias("time_shift_correction"),
        first("shift", "error").alias("time_shift_error"),
        *[first("loss", c).alias(c) for c in loss_cols],
        first("loss", "error").alias("run_loss_analysis_error"),
    )
    # the reference's data_sampling is the GRID cadence — report the
    # snapped per-site grid when in native-cadence mode
    samp_col = (
        "grid_seconds"
        if "grid_seconds" in core.sampling.columns
        else "sampling_seconds"
    )
    sampling_report = core.sampling.select(
        site_col,
        (F.col(samp_col) / 60.0).alias("sampling_minutes"),
    )

    report = (
        score_report.join(quality_warn, site_col, "left")
        .join(chain_report, site_col, "left")
        .join(sampling_report, site_col, "left")
        .join(tz, site_col, "left")
        .withColumn("get_data_error", F.lit(NO_ERROR))
    )
    # failed get_data sites: one row each, null metrics; downstream
    # stage errors carry the runner's own cascade message
    # (runner.py:103-108: "get_data error lead to nothing")
    cascade = F.lit("get_data error lead to nothing")
    failed = bad_sites.select(
        site_col,
        "get_data_error",
        *[
            (cascade if c.endswith("_error") else F.lit(None).cast(t)).alias(c)
            for c, t in report.dtypes
            if c not in (site_col, "get_data_error")
        ],
    )
    report = report.unionByName(failed)

    first_err = F.coalesce(
        *[
            F.when(F.col(c) != NO_ERROR, F.col(c))
            for c in (
                "get_data_error",
                "scoring_error",
                "capacity_change_error",
                "time_shift_error",
            )
        ],
        F.lit(NO_ERROR),
    )
    report = report.select(
        site_col,
        "num_days",
        (F.col("num_days") / F.lit(365.0)).alias("length_years"),
        "capacity",
        "sampling_minutes",
        "quality_score",
        "clearness_score",
        "inverter_clipping",
        "clipped_fraction",
        "capacity_change",
        "data_quality_warning",
        "time_shift_correction",
        "time_zone_correction",
        *loss_cols,
        "get_data_error",
        "scoring_error",
        "capacity_change_error",
        "time_shift_error",
        "run_loss_analysis_error",
        first_err.alias("run_pipeline_error"),
    )

    return FleetResult(
        standardized=std_out,
        scores=scores,
        capacity_changes=cap,
        time_shifts=shifts,
        report=report,
    )


def fleet_report(
    measurements: DataFrame,
    **kwargs,
) -> DataFrame:
    """``run_fleet_pipeline(...).report`` — one row per site with the
    reference's 11 ``report()`` fields plus per-stage error columns."""
    return run_fleet_pipeline(measurements, **kwargs).report

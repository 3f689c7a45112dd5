"""Per-day flag algorithms: clear-day detection, capacity-change labels,
quality clustering, time-shift detection.

Each takes/returns Spark DataFrames; the per-site numerical core runs in
``applyInPandas`` (one shuffle on ``site``, whole-series semantics per
task — SURVEY §7.4 risk 4). All cores are deterministic numpy.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from solar_data_tools_spark.parallel import grouped_apply, site_key_type


# ------------------------------------------------------------- clear days
def detect_clear_days(
    daily: DataFrame,
    smoothness_col: str = "smoothness_l1",
    energy_col: str = "energy",
    site_col: str = "site",
    weight_seasonal: float = 0.8,
) -> DataFrame:
    """Clear-day detection (reference: clear_day_detection.py:40-103).

    A day is 'clear' when (a) its intraday profile is smooth — daily L1 of
    the second difference below an adaptive threshold — and (b) its energy
    is close to the seasonal 90th-quantile baseline (D2 fit). Both criteria
    per the reference's two-filter AND.

    Input: daily table with smoothness + energy columns. Output adds
    ``clear`` boolean.
    """
    schema = (
        f"{site_col} {site_key_type(daily, site_col)}, date date, "
        f"{smoothness_col} double, {energy_col} double, clear boolean"
    )

    def _detect(pdf: pd.DataFrame) -> pd.DataFrame:
        from solar_data_tools_spark.solvers.decompositions import tl1_l2d2p365_fit

        pdf = pdf.sort_values("date").reset_index(drop=True)
        smooth = pdf[smoothness_col].to_numpy(dtype=np.float64)
        energy = pdf[energy_col].to_numpy(dtype=np.float64)
        # smoothness criterion: below median of positive smoothness values
        pos = smooth[np.isfinite(smooth) & (smooth > 0)]
        s_thresh = np.quantile(pos, 0.5) if len(pos) else np.inf
        smooth_ok = np.where(np.isfinite(smooth), smooth <= s_thresh, False)
        # energy criterion: within [weight_seasonal, 1/weight_seasonal] x
        # seasonal q90 baseline
        baseline = tl1_l2d2p365_fit(energy, tau=0.9, period=min(len(pdf), 365.2425))
        with np.errstate(invalid="ignore", divide="ignore"):
            ratio = energy / baseline
        energy_ok = np.where(
            np.isfinite(ratio),
            (ratio >= weight_seasonal) & (ratio <= 2.0 - weight_seasonal + 1e-9),
            False,
        )
        pdf["clear"] = smooth_ok & energy_ok
        return pdf[[c.split()[0] for c in schema.split(", ")]]

    cols = [site_col, "date", smoothness_col, energy_col]
    return grouped_apply(daily.select(*cols), [site_col], _detect, schema)


# -------------------------------------------------------- capacity change
# each stage's output fields after (site, date)
CAPACITY_FIELDS = "cap_level double, capacity_label int, cap_changed boolean"
TIME_SHIFT_FIELDS = "noon_pwc double, noon_seasonal double, shift_hours double"


def capacity_change_kernel(
    pdf: pd.DataFrame, metric_col: str, site_col: str, w1: float,
    round_base: float,
) -> pd.DataFrame:
    """The per-site kernel of :func:`detect_capacity_changes`."""
    from solar_data_tools_spark.solvers.exact import (
        solve_l1_pwc_smoothper_trend,
    )

    pdf = pdf.sort_values("date").reset_index(drop=True)
    metric = pdf[metric_col].to_numpy(dtype=np.float64)
    finite = np.isfinite(metric)
    if finite.sum() >= 16:
        level_full, _seas, _lin, _obj = solve_l1_pwc_smoothper_trend(
            metric, w2=w1, period=min(float(len(metric)), 365.2425)
        )
        # Label ALL days from the solved pwc component — the TV
        # penalty carries the level flat through data gaps, so gap
        # days inherit the surrounding regime instead of producing a
        # spurious change on both gap edges (reference
        # capacity_change.py:100-103 labels the full s1 series).
        # The masked level is kept only for the REPORTED cap_level.
        base0 = level_full[0]
        rounded = (
            np.round((level_full - base0) / round_base) * round_base + base0
        )
        level = np.where(finite, level_full, np.nan)
    else:
        level = np.where(finite, metric, np.nan)
        rounded = np.zeros(len(metric))
    # labels: dense rank of distinct levels in order of appearance
    labels = np.zeros(len(rounded), dtype=np.int32)
    seen: dict[float, int] = {}
    for i, v in enumerate(rounded):
        key = float(v)
        if key not in seen:
            seen[key] = len(seen)
        labels[i] = seen[key]
    changed = np.zeros(len(labels), dtype=bool)
    changed[1:] = labels[1:] != labels[:-1]
    return pd.DataFrame(
        {
            site_col: pdf[site_col],
            "date": pdf["date"],
            "cap_level": level,
            "capacity_label": labels,
            "cap_changed": changed,
        }
    )


def detect_capacity_changes(
    daily: DataFrame,
    metric_col: str = "log_day_max",
    site_col: str = "site",
    w1: float = 0.5,
    round_base: float = 0.05,
    capture_errors: bool = False,
) -> DataFrame:
    """Capacity-change labels (reference: capacity_change.py:38-116 + D3).

    Decompose the per-day log-quantile metric with the exact D3 model
    (``l1_pwc_smoothper_trend``: l1 residual + weighted-TV piecewise
    constant + smooth periodic + bounded trend); rounding the
    piecewise-constant component to ``round_base`` bins aligned to its
    first value (custom_round, capacity_change.py:100-103) yields integer
    regime labels; a change is flagged where the label steps.
    Output: (site, date, cap_level, capacity_label, cap_changed).

    ``w1`` is the TV weight (the reference's tuned ``w2``; its holdout
    grid is logspace(-0.5, 2.5, 13), capacity_change.py:75).
    """
    schema = (
        f"{site_col} {site_key_type(daily, site_col)}, date date, "
        + CAPACITY_FIELDS
    )
    kernel = partial(
        capacity_change_kernel, metric_col=metric_col, site_col=site_col,
        w1=w1, round_base=round_base,
    )
    return grouped_apply(
        daily.select(site_col, "date", metric_col), [site_col], kernel,
        schema, capture_errors=capture_errors,
    )


# ------------------------------------------------------------ time shifts
def time_shift_kernel(
    pdf: pd.DataFrame, noon_col: str, site_col: str, w1: float,
    min_shift_hours: float, use_col: str | None, w1_col: str | None,
    round_to_hour: bool, baseline: str,
) -> pd.DataFrame:
    """The per-site kernel of :func:`detect_time_shifts`."""
    from solar_data_tools_spark.solvers.decompositions import (
        l2_l1d1_l2d2p365_fit,
    )

    pdf = pdf.sort_values("date").reset_index(drop=True)
    noon = pdf[noon_col].to_numpy(dtype=np.float64)
    if use_col is not None:
        use = pdf[use_col].fillna(False).to_numpy(dtype=bool)
        noon = np.where(use & np.isfinite(noon), noon, np.nan)
    eff_w1 = w1
    if w1_col is not None:
        v = pdf[w1_col].dropna()
        if len(v):
            eff_w1 = float(v.iloc[0])
    pwc, seasonal = l2_l1d1_l2d2p365_fit(
        noon, w1=eff_w1, period=min(len(pdf), 365.2425)
    )
    if np.all(np.isnan(pwc)):
        shift = np.full(len(noon), np.nan)
    else:
        finite = pwc[np.isfinite(pwc)]
        base = finite[0]
        if baseline == "nearest_noon" and (
            np.abs(base - 12.0) > 0.9
            or np.sum(finite == base) / len(finite) < 0.02
        ):
            vals = np.unique(finite)
            base = vals[np.argmin(np.abs(vals - 12.0))]
        raw = base - pwc  # correction toward the baseline clock
        if round_to_hour:
            shift = np.round(raw)
        else:
            shift = np.where(np.abs(raw) >= min_shift_hours, raw, 0.0)
    return pd.DataFrame(
        {
            site_col: pdf[site_col],
            "date": pdf["date"],
            "noon_pwc": pwc,
            "noon_seasonal": seasonal,
            "shift_hours": shift,
        }
    )


# ------------------------------------------------------------ time shifts
def detect_time_shifts(
    daily: DataFrame,
    noon_col: str = "solar_noon_com",
    site_col: str = "site",
    w1: float = 0.05,
    min_shift_hours: float = 0.25,
    use_col: str | None = None,
    w1_col: str | None = None,
    round_to_hour: bool = False,
    baseline: str = "first",
    capture_errors: bool = False,
) -> DataFrame:
    """Time-shift detection (reference: time_shifts.py:47-199 + D1).

    Decompose the daily solar-noon signal into piecewise-constant +
    seasonal (D1); steps in the piecewise-constant component larger than
    ``min_shift_hours`` are clock shifts. The roll correction per day is
    the offset of the current segment from the baseline segment, in
    hours.

    Reference-parity options (auto_fix_time_shifts defaults,
    data_handler.py:1330-1414 + time_shifts.py:157-177):

    - ``use_col``: boolean column masking the FIT to good days (the
      reference fits on clear days when clearness >= 0.3, else
      no-error days); the pwc still covers every day.
    - ``w1_col``: per-site TV weight column (the holdout-tuned best_w1
      from ``tune_time_shift_w1`` — the reference's w1=None meta-opt,
      time_shifts.py:70-110); overrides the scalar ``w1``.
    - ``round_to_hour``: round corrections to whole hours
      (``round_shifts_to_hour=True``, the reference default) instead of
      thresholding at ``min_shift_hours``.
    - ``baseline="nearest_noon"``: the reference's baseline rule — use
      the first segment unless it deviates from 12 by > 0.9 h or covers
      < 2 % of days, in which case use the segment value closest to 12.

    Output: (site, date, noon_pwc, noon_seasonal, shift_hours) where
    shift_hours is the correction to ADD to slot positions (W6 roll).
    """
    schema = (
        f"{site_col} {site_key_type(daily, site_col)}, date date, "
        + TIME_SHIFT_FIELDS
    )
    kernel = partial(
        time_shift_kernel, noon_col=noon_col, site_col=site_col, w1=w1,
        min_shift_hours=min_shift_hours, use_col=use_col, w1_col=w1_col,
        round_to_hour=round_to_hour, baseline=baseline,
    )
    cols = [c for c in (site_col, "date", noon_col, use_col, w1_col) if c]
    return grouped_apply(
        daily.select(*cols), [site_col], kernel, schema,
        capture_errors=capture_errors,
    )


def apply_time_shift_correction(
    measurements: DataFrame,
    shifts: DataFrame,
    slots_per_day: int | str,
    site_col: str = "site",
) -> DataFrame:
    """W6 — turn shift_hours into per-day slot rolls and apply them.

    ``slots_per_day`` may be a column NAME on ``measurements`` (per-site
    native grids — the heterogeneous-fleet path): the per-site value
    joins onto the small shifts table for the roll arithmetic."""
    from solar_data_tools_spark.operators.windows import circular_roll_slots

    if isinstance(slots_per_day, str):
        spd_tbl = measurements.select(site_col, slots_per_day).distinct()
        shifts = shifts.join(F.broadcast(spd_tbl), site_col)
        slots_per_hour = F.col(slots_per_day) / F.lit(24.0)
    else:
        slots_per_hour = F.lit(slots_per_day / 24.0)
    roll = shifts.select(
        site_col,
        "date",
        F.round(F.col("shift_hours") * slots_per_hour).cast("int").alias("roll_k"),
    )
    return circular_roll_slots(measurements, roll, slots_per_day, site_col)


# ------------------------------------------------------ quality clustering
def quality_clustering(
    daily: DataFrame,
    site_col: str = "site",
    eps: float = 0.03,
    min_samples: int = 10,
    exact_digits: int | None = None,
) -> DataFrame:
    """M1 — density-based clustering of (density, linearity-proxy) day
    scores (reference: data_handler.py:1170-1199, sklearn DBSCAN eps=0.03).

    DBSCAN reimplemented in numpy (exact O(n^2) neighborhoods) since
    days-per-site is tiny; runs per site in one grouped-map task.
    Output: (site, date, quality_cluster) with -1 noise.

    Deliberate deviation from sklearn: border points (non-core within
    eps of a core) join the cluster of their NEAREST core neighbor
    (ties to the lowest day index) instead of the first-expanding
    cluster. Core/noise sets and cluster numbering (ascending min core
    index) are identical to sklearn; the nearest-core rule makes the
    labeling ORDER-INDEPENDENT, which is what allows the external
    DuckDB oracle to reproduce it exactly in SQL (recursive
    connected-components + arg-min join) — a hash-checked clustering
    operator instead of a rows-only one.
    """
    schema = (
        f"{site_col} {site_key_type(daily, site_col)}, date date, "
        "quality_cluster int"
    )

    def _cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("date").reset_index(drop=True)
        pts = pdf[["density", "density_fit_ratio"]].to_numpy(dtype=np.float64)
        pts = np.where(np.isfinite(pts), pts, 0.0)
        n = len(pts)
        # exact DBSCAN neighborhoods, O(n^2) — n = days per site (tiny)
        d2 = ((pts[:, None, :] - pts[None, :, :]) ** 2).sum(axis=2)
        neighbors = d2 <= eps * eps
        counts = neighbors.sum(axis=1)
        core = counts >= min_samples
        labels = np.full(n, -1, dtype=np.int32)
        # core components labeled by ascending min core index
        cluster = 0
        for i in range(n):
            if not core[i] or labels[i] != -1:
                continue
            stack = [i]
            labels[i] = cluster
            while stack:
                j = stack.pop()
                for k in np.where(neighbors[j] & core)[0]:
                    if labels[k] == -1:
                        labels[k] = cluster
                        stack.append(int(k))
            cluster += 1
        # border points: nearest core within eps, ties to lowest index
        core_idx = np.where(core)[0]
        if len(core_idx):
            for i in np.where(~core)[0]:
                cand = core_idx[neighbors[i, core_idx]]
                if len(cand):
                    best = cand[np.argmin(d2[i, cand])]
                    labels[i] = labels[best]
        return pd.DataFrame(
            {
                site_col: pdf[site_col],
                "date": pdf["date"],
                "quality_cluster": labels,
            }
        )

    # exact_digits (round 9, certified q63 path): the per-site mean
    # density is a many-term float sum feeding DBSCAN's eps
    # comparisons — a ulp of layout drift could flip a neighborhood
    # membership and re-label a cluster. Tick-exact mean + try_divide
    # (NULL on zero mean, matching the oracle's NULLIF) close it.
    ws = Window.partitionBy(site_col)
    if exact_digits is not None:
        from solar_data_tools_spark.operators.canonical import ticks

        t = ticks(F.col("density"), exact_digits)
        mean_density = (
            F.sum(t).over(ws)
            / F.count("density").over(ws)
            / F.lit(float(10**exact_digits))
        )
        ratio = F.try_divide(F.col("density"), mean_density)
    else:
        ratio = F.col("density") / F.avg("density").over(ws)
    base = daily.withColumn(
        "density_fit_ratio", F.coalesce(ratio, F.lit(0.0))
    )
    cols = [site_col, "date", "density", "density_fit_ratio"]
    return grouped_apply(base.select(*cols), [site_col], _cluster, schema)


# ---------------------------------------------------------------- clipping
def point_mass_locations(
    y_hat: np.ndarray,
    x_rs: np.ndarray,
    threshold: float = -0.35,
    min_slope: float = 3e-4,
) -> np.ndarray:
    """Point-mass values from a fitted CDF (reference: clipping.py:130-199).

    A point mass (a vertical jump in the true CDF) shows up in the
    piecewise-linear fit as a steep cell whose slope then collapses: the
    windowed second difference divided by the entering slope drops below
    ``threshold`` (relative slope drop of >35%). Windows of 1-3 grid cells
    catch masses smeared over neighboring cells; clusters reduce to their
    strongest cell; a still-rising final slope is an end-of-support mass.

    Deliberate deviation from the reference: a cluster wider than one
    grid cell reduces to the cell with the MOST NEGATIVE metric (the
    sharpest relative slope collapse — ``np.argmin``), where the
    reference's ``pointmass_detection`` takes ``np.argmax`` over an
    off-by-one metric slice. The argmin is the semantically intended
    selection (pick the strongest evidence of a jump); the difference
    only moves the representative by a few grid cells inside a wide
    cluster, within the 0.0075 ``pm_neighborhood`` used downstream.
    Covered by the multi-cell-cluster case in
    tests/test_components.py::test_point_mass_multicell_cluster.
    """
    d1 = np.diff(y_hat)
    curv = np.diff(y_hat, n=2)
    nm = len(curv)
    ref_slope = d1[:-1]
    with np.errstate(divide="ignore", invalid="ignore"):
        cand = []
        for wdw in (1, 2, 3):
            sums = np.convolve(curv, np.ones(wdw), mode="full")[wdw - 1 : nm]
            v = np.empty(nm)
            v[: len(sums)] = sums / ref_slope[: len(sums)]
            v[len(sums) :] = curv[len(sums) :] / ref_slope[len(sums) :]
            cand.append(v)
        metric = np.min(cand, axis=0)
    metric = np.where(np.isfinite(metric), metric, 0.0)
    core = (metric <= threshold) & (ref_slope > min_slope)
    # end-of-support point mass: CDF still rising steeply at x = 1
    if d1[-1] > 1e-3 or np.isclose(d1[-1], d1.max()):
        core[-1] = True
    # cluster reduction: one representative (most negative metric) per run
    pm = np.zeros(len(y_hat), dtype=bool)
    i = 0
    while i < nm:
        if core[i]:
            j = i
            while j + 1 < nm and core[j + 1]:
                j += 1
            best = i + int(np.argmin(metric[i : j + 1]))
            pm[best + 1] = True  # curv index i sits at grid position i+1
            i = j + 1
        else:
            i += 1
    return x_rs[pm]


def detect_clipping(
    daily: DataFrame,
    stat_col: str = "clip_stat_1",
    stat2_col: str = "clip_stat_2",
    site_col: str = "site",
    grid_points: int = 1001,
    threshold: float = -0.35,
    weight: float = 5.0,
    pm_neighborhood: float = 0.0075,
) -> DataFrame:
    """Inverter-clipping day flags (reference: clipping.py:25-135 + D4).

    Per site, the reference pipeline end-to-end:

    1. empirical CDF of ``clip_stat_1`` with 0 and 1 appended, resampled
       onto an even value grid (clipping.py:360-370; the reference grid is
       5000 — 1001 keeps the dense D4 solve sub-second with no detection
       change at fleet stat counts);
    2. piecewise-linear fit via the exact D4 solver (l2 residual + l1 of
       second differences, endpoints pinned to 0/1);
    3. point masses from the relative-curvature metric
       (``point_mass_locations`` above);
    4. a day is clipped when clip_stat_1 > 0.05, clip_stat_2 > 0.1 and
       clip_stat_1 lies within ``pm_neighborhood`` of a point mass
       (clipping.py:70-93).
    """
    schema = (
        f"{site_col} {site_key_type(daily, site_col)}, date date, "
        f"{stat_col} double, clipped boolean"
    )

    def _detect(pdf: pd.DataFrame) -> pd.DataFrame:
        from solar_data_tools_spark.solvers.exact import (
            solve_l2_l1d2_constrained,
        )

        pdf = pdf.sort_values("date").reset_index(drop=True)
        stat = pdf[stat_col].to_numpy(dtype=np.float64)
        stat2 = (
            pdf[stat2_col].to_numpy(dtype=np.float64)
            if stat2_col in pdf.columns
            else np.ones_like(stat)
        )
        finite = stat[np.isfinite(stat) & (stat > 0)]
        clipped = np.zeros(len(stat), dtype=bool)
        if len(finite) >= 10:
            xs = np.concatenate([[0.0], np.sort(finite), [1.0]])
            ys = np.linspace(0.0, 1.0, len(xs))
            # grid resolution only needs to resolve the empirical CDF's
            # own structure (~len(finite) steps) and the pm_neighborhood
            # radius; oversampling a short series onto the full grid makes
            # the D4 solve slower for identical detections. The size is
            # rounded so the DST solver's FFT length stays smooth.
            from solar_data_tools_spark.solvers.exact import cdf_grid_points

            gp = cdf_grid_points(len(finite), cap=grid_points)
            x_rs = np.linspace(0.0, 1.0, gp)
            y_rs = np.interp(x_rs, xs, ys)
            fit, _obj = solve_l2_l1d2_constrained(
                y_rs, w1=weight, admm_iters=1000
            )
            pms = point_mass_locations(fit, x_rs, threshold=threshold)
            if len(pms):
                near = np.zeros(len(stat), dtype=bool)
                for x0 in pms:
                    near |= np.abs(stat - x0) < pm_neighborhood
                clipped = (
                    np.isfinite(stat)
                    & (stat > 0.05)
                    & np.where(np.isfinite(stat2), stat2 > 0.1, True)
                    & near
                )
        return pd.DataFrame(
            {
                site_col: pdf[site_col],
                "date": pdf["date"],
                stat_col: stat,
                "clipped": clipped,
            }
        )

    cols = [site_col, "date", stat_col]
    if stat2_col in daily.columns:
        cols.append(stat2_col)
    return grouped_apply(daily.select(*cols), [site_col], _detect, schema)


# --------------------------------------------------------- clear-sky DP
def clear_sky_dp_labels(
    series: pd.DataFrame | None = None,
    *,
    values: np.ndarray,
    baseline: np.ndarray,
    stickiness: float = 4.0,
    escape: float = 0.1,
) -> np.ndarray:
    """M3 — 2-state Viterbi labeling of clear vs cloudy periods
    (reference: clear_sky_detection.py:13-112): hinge losses against a
    quantile band [0.75*q, 1.2*q] with asymmetric transition costs.

    Pure-numpy DP over one series; wrap per site via applyInPandas when
    fleet-scale. Returns a boolean array (True = clear).
    """
    v = np.asarray(values, dtype=np.float64)
    q = np.asarray(baseline, dtype=np.float64)
    n = len(v)
    lo, hi = 0.75 * q, 1.2 * q
    # emission costs: clear state penalizes leaving the band, cloudy state
    # penalizes being inside it
    clear_cost = np.maximum(lo - v, 0.0) + np.maximum(v - hi, 0.0)
    cloudy_cost = np.maximum(1.0 - np.abs(v - q) / np.maximum(q, 1e-9), 0.0)
    bad = ~np.isfinite(v) | ~np.isfinite(q)
    clear_cost = np.where(bad, 1e6, clear_cost)
    cloudy_cost = np.where(bad, 0.0, cloudy_cost)

    INF = float("inf")
    cost = np.array([clear_cost[0], cloudy_cost[0]])
    back = np.zeros((n, 2), dtype=np.int8)
    trans = np.array([[0.0, stickiness], [escape, 0.0]])
    for i in range(1, n):
        emis = np.array([clear_cost[i], cloudy_cost[i]])
        new = np.empty(2)
        for s in range(2):
            cands = cost + trans[:, s]
            b = int(np.argmin(cands))
            back[i, s] = b
            new[s] = cands[b] + emis[s]
        cost = new
    state = int(np.argmin(cost))
    out = np.empty(n, dtype=bool)
    for i in range(n - 1, -1, -1):
        out[i] = state == 0
        state = int(back[i, state])
    return out

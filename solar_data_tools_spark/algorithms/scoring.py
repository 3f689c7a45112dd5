"""End-to-end daily quality scoring — parity with ``DataHandler.run_pipeline``'s
scoring stage (reference data_handler.py:380-560, validated against the
reference's published scoring fixtures in tests/test_scoring_goldens.py).

The fleet layout is Spark's: the long standardized table shuffles once on
``site`` and each task scores one site's (slots x days) matrix with the
same numpy/solver chain the reference applies per data set:

  raw matrix   -> density scores   (data_quality.py:28-54)
  sunup mask   -> filled matrix    (sunrise_sunset_estimation.py:184-307,
                                    data_filling.py:13-28)
  filled       -> linearity scores (data_quality.py:56-84)
  scores       -> quality flags + DBSCAN clusters (data_handler.py:1154-1200)
  filled       -> clear-day weights (clear_day_detection.py:40-103)
  filled       -> clipping stats    (clipping.py:43-107)

All quantile fits go through the exact ``tl1_l2d2p365`` solver
(solvers/exact.py), the same component the reference calls at each of
these sites.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solar_data_tools_spark.parallel import grouped_apply, site_key_type
from solar_data_tools_spark.solvers.exact import solve_tl1_l2d2p365

SUNRISE_TAU = 0.1  # reference sunrise_sunset_estimation.py:40
SUNSET_TAU = 0.9  # reference sunrise_sunset_estimation.py:41


# ---------------------------------------------------------------- sun mask
def detect_sun(mat: np.ndarray, threshold: float) -> np.ndarray:
    """daytime.py:41-47 + scale_data (daytime.py:49-60)."""
    high = np.nanquantile(mat, 0.99)
    low = max(float(np.nanmin(mat)), -0.005 * high)
    scaled = (mat - low) / high
    msk = np.zeros_like(scaled, dtype=bool)
    ok = ~np.isnan(scaled)
    msk[ok] = scaled[ok] > threshold
    return msk


def rise_set_rough(msk: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """sunrise_sunset.py:11-27: first/last sun-up slot per day in hours;
    NaN when the day starts (ends) already sun-up."""
    nvals = msk.shape[0]
    hod = np.arange(0, 24, 24.0 / nvals)
    sr_idx = np.argmax(msk, axis=0)
    ss_idx = nvals - np.argmax(np.flip(msk, axis=0), axis=0) - 1
    sunrises = np.full(msk.shape[1], np.nan)
    sunsets = np.full(msk.shape[1], np.nan)
    good_sr = sr_idx != 0
    good_ss = ss_idx != nvals - 1
    sunrises[good_sr] = hod[sr_idx[good_sr]]
    sunsets[good_ss] = hod[ss_idx[good_ss]]
    return sunrises, sunsets


def estimate_sunup_mask(
    mat: np.ndarray, seed: int = 42
) -> tuple[np.ndarray, np.ndarray, np.ndarray, float]:
    """Threshold-optimized sunrise/sunset estimation
    (sunrise_sunset_estimation.py:184-307): grid over 21 log-spaced
    thresholds, 80/20 holdout scoring of the seasonal quantile fits,
    pick the smallest threshold within 10% of the best holdout error.

    The reference shuffles with an unseeded RNG; the selection rule is a
    wide plateau so a fixed seed lands on the same threshold.
    """
    from solar_data_tools_spark.solvers.exact import solve_tl1_l2d2p365_batch

    ths = np.logspace(-5, -1, 21)
    rng = np.random.default_rng(seed)
    # Pass 1: build every threshold's sunrise/sunset series and holdout
    # split (RNG consumed in the same order as the sequential loop), then
    # solve ALL holdout fits as one batched interior-point call — the
    # per-fit setup overhead was most of this stage's cost.
    ho_error = np.full(len(ths), 1e2)
    cand = []  # (th_idx, sunrises, sunsets, tr_sr, te_sr, tr_ss, te_ss)
    for i, th in enumerate(ths):
        msk = detect_sun(mat, th)
        sunrises, sunsets = rise_set_rough(msk)
        use_sr = np.where(~np.isnan(sunrises))[0]
        use_ss = np.where(~np.isnan(sunsets))[0]
        if (
            len(use_sr) / len(sunrises) <= 0.6
            or len(use_ss) / len(sunsets) <= 0.6
        ):
            continue
        use_sr = rng.permutation(use_sr)
        use_ss = rng.permutation(use_ss)
        tr_sr = np.zeros(len(sunrises), dtype=bool)
        tr_sr[use_sr[: int(len(use_sr) * 0.8)]] = True
        te_sr = np.zeros(len(sunrises), dtype=bool)
        te_sr[use_sr[int(len(use_sr) * 0.8) :]] = True
        tr_ss = np.zeros(len(sunsets), dtype=bool)
        tr_ss[use_ss[: int(len(use_ss) * 0.8)]] = True
        te_ss = np.zeros(len(sunsets), dtype=bool)
        te_ss[use_ss[int(len(use_ss) * 0.8) :]] = True
        cand.append((i, sunrises, sunsets, tr_sr, te_sr, tr_ss, te_ss))
    if cand:
        Y = np.column_stack(
            [c[1] for c in cand] + [c[2] for c in cand]
        )
        U = np.column_stack(
            [c[3] for c in cand] + [c[5] for c in cand]
        )
        taus = np.r_[
            np.full(len(cand), SUNRISE_TAU), np.full(len(cand), SUNSET_TAU)
        ]
        fits, _obj = solve_tl1_l2d2p365_batch(Y, taus, use_ixs=U)
        for k, (i, sunrises, sunsets, tr_sr, te_sr, tr_ss, te_ss) in enumerate(
            cand
        ):
            sr_fit = fits[:, k]
            ss_fit = fits[:, len(cand) + k]
            resid = np.r_[
                (sunrises - sr_fit)[te_sr], (sunsets - ss_fit)[te_ss]
            ]
            # non-physical guard: seasonal range must exceed 15 minutes
            if (
                sr_fit.max() - sr_fit.min() > 0.25
                and ss_fit.max() - ss_fit.min() > 0.25
            ):
                ho_error[i] = float(np.mean(np.abs(resid)))
    selected_th = float(np.min(ths[ho_error < 1.1 * ho_error.min()]))
    msk = detect_sun(mat, selected_th)
    sunrises, sunsets = rise_set_rough(msk)
    fin, _obj = solve_tl1_l2d2p365_batch(
        np.column_stack([sunrises, sunsets]),
        np.array([SUNRISE_TAU, SUNSET_TAU]),
    )
    sr_est, ss_est = fin[:, 0], fin[:, 1]
    nvals, ndays = mat.shape
    hod = np.arange(0, 24, 24.0 / nvals)[:, None]
    sunup = (hod >= sr_est[None, :]) & (hod < ss_est[None, :])
    return sr_est, ss_est, sunup, selected_th


# ------------------------------------------------------------------- fills
def fill_matrix(mat: np.ndarray, sunup: np.ndarray) -> np.ndarray:
    """zero_nighttime + interp_missing (data_filling.py:13-28): negatives
    to 0, nighttime NaN to 0, then per-day linear interpolation along the
    slot axis with pandas edge semantics (leading NaN kept, trailing NaN
    carries the last value)."""
    D = mat.copy()
    D[D < 0] = 0
    D[(~sunup) & np.isnan(D)] = 0
    return pd.DataFrame(D).interpolate().to_numpy()


# ------------------------------------------------------------------ scores
def density_scores(
    mat: np.ndarray, threshold: float = 0.2
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """data_quality.py:28-54. Returns (scores, density_signal, fit)."""
    cap = np.nanquantile(mat, 0.95)
    filled0 = np.where(np.isnan(mat), 0.0, mat)
    dens = (filled0 > 0.02 * cap).sum(axis=0) / mat.shape[0]
    use = (dens > threshold) & (dens < 0.8)
    fit, _obj = solve_tl1_l2d2p365(dens, 0.85, use_ixs=use)
    # fit can be 0/NaN on degenerate (all-dark) day subsets; the inf/NaN
    # scores are handled by the downstream flag thresholds — silence the
    # intentional divide so executor logs stay clean
    with np.errstate(divide="ignore", invalid="ignore"):
        return dens / fit, dens, fit


def linearity_scores(
    filled: np.ndarray, capacity: float, density_fit: np.ndarray
) -> np.ndarray:
    """data_quality.py:56-84: per-day count of the modal rounded first
    difference (NaNs omitted, ties to the smallest value), normalized by
    (slots-1) * density_fit."""
    temp = filled.copy()
    temp[temp < 0.005 * capacity] = np.nan
    diffs = np.round(temp[1:] - temp[:-1], 4)
    n = filled.shape[0] - 1
    counts = np.zeros(filled.shape[1])
    for d in range(filled.shape[1]):
        col = diffs[:, d]
        col = col[~np.isnan(col)]
        if len(col) == 0:
            counts[d] = 0
            continue
        vals, cnts = np.unique(col, return_counts=True)
        counts[d] = cnts.max()
    with np.errstate(divide="ignore", invalid="ignore"):
        return counts / (n * density_fit)


def dbscan_labels(
    points: np.ndarray, eps: float, min_samples: int
) -> np.ndarray:
    """Exact DBSCAN in numpy (sklearn semantics: neighbor counts include
    the point itself; clusters labeled in first-core-encounter order;
    border points claimed by the first expanding cluster)."""
    n = len(points)
    with np.errstate(invalid="ignore"):
        d2 = ((points[:, None, :] - points[None, :, :]) ** 2).sum(axis=2)
        neighbors = d2 <= eps * eps
    core = neighbors.sum(axis=1) >= min_samples
    labels = np.full(n, -1, dtype=np.int64)
    cluster = 0
    for i in range(n):
        if labels[i] != -1 or not core[i]:
            continue
        labels[i] = cluster
        stack = [i]
        while stack:
            j = stack.pop()
            if not core[j]:
                continue
            for k in np.where(neighbors[j])[0]:
                if labels[k] == -1:
                    labels[k] = cluster
                    stack.append(int(k))
        cluster += 1
    return labels


def _iqr_inlier_mask(x: np.ndarray, outlier_constant: float) -> np.ndarray:
    """utilities.py:12-33 basic_outlier_filter."""
    hi = np.percentile(x, 75)
    lo = np.percentile(x, 25)
    iqr = (hi - lo) * outlier_constant
    return (x >= lo - iqr) & (x <= hi + iqr)


def clear_day_weights(
    filled: np.ndarray,
    smoothness_threshold: float = 0.9,
    energy_threshold: float = 0.8,
) -> np.ndarray:
    """clear_day_detection.py:40-103: geometric mean of the seasonally
    renormalized smoothness and daily-energy metrics, gated by both
    thresholds and the sparsity outlier filter."""
    tc = np.abs(filled[:-2] - 2 * filled[1:-1] + filled[2:]).sum(axis=0)
    tc = 1 - tc / np.nanmax(tc)
    y, _obj = solve_tl1_l2d2p365(tc, 0.9)
    tc = np.clip(tc / y, 0, None)
    de = filled.sum(axis=0)
    de = de / np.nanmax(de)
    x, _obj = solve_tl1_l2d2p365(de, 0.9)
    de = np.clip(de / x, 0, 1)
    weights = np.sqrt(tc) * np.sqrt(de)
    selection = (tc > smoothness_threshold) & (de > energy_threshold)
    weights[~selection] = 0.0
    # filter_for_sparsity (clear_day_detection.py:23-38)
    _scores, dens, fit = density_scores(filled)
    msk = _iqr_inlier_mask(dens - fit, 5.0)
    return weights * msk.astype(float)


def clipping_stats_and_days(
    filled: np.ndarray, no_error_flag: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, bool]:
    """clipping.py:43-107: the two clip statistics and the clipped-day
    flags via CDF point-mass detection (shares point_mass_locations with
    the fleet operator in algorithms/daily_flags.py)."""
    from solar_data_tools_spark.algorithms.daily_flags import (
        point_mass_locations,
    )
    from solar_data_tools_spark.solvers.exact import (
        solve_l2_l1d2_constrained,
    )

    max_value = np.max(filled)
    daily_max = np.max(filled, axis=0)
    clip_stat_1 = daily_max / max_value
    with np.errstate(divide="ignore", invalid="ignore"):
        temp = filled / daily_max
        temp2 = np.where(temp > 0.995, temp, 0.0)
        clip_stat_2 = temp2.sum(axis=0) / temp.sum(axis=0)
    clip_stat_2 = np.where(np.isnan(clip_stat_2), 0.0, clip_stat_2)
    clipped = (clip_stat_1 > 0.05) & (clip_stat_2 > 0.1) & no_error_flag
    # point-mass gate on the clip_stat_1 CDF (clipping.py:360-370 grid)
    finite = clip_stat_1[np.isfinite(clip_stat_1) & (clip_stat_1 > 0)]
    pms = np.array([])
    if len(finite) >= 10:
        xs = np.concatenate([[0.0], np.sort(finite), [1.0]])
        ys = np.linspace(0.0, 1.0, len(xs))
        from solar_data_tools_spark.solvers.exact import cdf_grid_points

        gp = cdf_grid_points(len(finite))
        x_rs = np.linspace(0.0, 1.0, gp)
        y_rs = np.interp(x_rs, xs, ys)
        fit, _obj = solve_l2_l1d2_constrained(y_rs, w1=5.0, admm_iters=1000)
        pms = point_mass_locations(fit, x_rs)
    if len(pms) == 0:
        clipped = np.zeros_like(clipped)
    else:
        near = np.zeros_like(clipped)
        for x0 in pms:
            near |= np.abs(clip_stat_1 - x0) < 0.0075
        clipped = clipped & near
    inverter_clipping = bool(clipped.sum() > 0.01 * len(clipped))
    return clip_stat_1, clip_stat_2, clipped, inverter_clipping


# --------------------------------------------------------------- orchestrate
def score_site_matrix(mat: np.ndarray) -> dict:
    """Full per-site scoring chain on a (slots x days) matrix. Mirrors
    the reference pipeline order exactly (scores computed BEFORE any time
    shift fixing, data_handler.py:505-560 vs :585)."""
    capacity = float(np.nanquantile(mat, 0.95))  # data_handler.py:431
    _sr, _ss, sunup, _th = estimate_sunup_mask(mat)
    filled = fill_matrix(mat, sunup)
    dens_scores, _dens, dens_fit = density_scores(mat)
    lin_scores = linearity_scores(filled, capacity, dens_fit)
    density_flags = (dens_scores > 0.6) & (dens_scores < 1.05)
    linearity_flags = lin_scores < 0.1
    no_errors = density_flags & linearity_flags
    n_days = mat.shape[1]
    labels = dbscan_labels(
        np.c_[dens_scores, lin_scores],
        eps=0.03,
        min_samples=int(max(0.01 * n_days, 3)),
    )
    weights = clear_day_weights(filled)
    clear_days = weights >= 1e-3
    clear = clear_days & no_errors  # flag_clear_cloudy, data_handler.py:2635
    c1, c2, clipped, inv_clip = clipping_stats_and_days(filled, no_errors)
    return {
        "capacity_estimate": capacity,
        "density": dens_scores,
        "linearity": lin_scores,
        "clipping_1": c1,
        "clipping_2": c2,
        "quality_clustering": labels,
        "no_errors": no_errors,
        "clear": clear,
        "clipped": clipped,
        "inverter_clipping": inv_clip,
        "data_quality_score": float(no_errors.sum() / n_days),
        "data_clearness_score": float(clear.sum() / n_days),
    }


def daily_quality_scores(
    standardized: DataFrame,
    slots_per_day: int | None = 288,
    site_col: str = "site",
    capture_errors: bool = False,
) -> DataFrame:
    """Fleet scoring: one grouped-map task per site over the standardized
    long table (site, grid_ts, value). Emits one row per (site, date)
    with the five reference daily-score vectors, the quality flags, and
    the per-site scalars repeated on each row.

    ``slots_per_day=None`` infers each SITE's slot count from its own
    grid (rows / distinct dates) — the heterogeneous-fleet path where
    every site is standardized at its native cadence; the whole-days
    contract is still enforced per site.

    ``capture_errors=True`` adds an ``error`` column and turns a site's
    failure into a 1-row null record instead of a job failure (the
    fleet-runner per-stage isolation contract)."""
    schema = (
        f"{site_col} {site_key_type(standardized, site_col)}, date date, "
        "density double, linearity double, clipping_1 double, "
        "clipping_2 double, quality_clustering int, no_errors boolean, "
        "clear boolean, clipped boolean, capacity_estimate double, "
        "data_quality_score double, data_clearness_score double, "
        "inverter_clipping boolean"
    )

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("grid_ts").reset_index(drop=True)
        dates = pd.to_datetime(pdf.grid_ts).dt.normalize()
        day_index = dates.unique()
        # fail loudly with the offending site named — a ragged series
        # otherwise surfaces as an opaque numpy reshape error deep in an
        # executor task
        site_id = pdf[site_col].iloc[0] if len(pdf) else "<empty>"
        if slots_per_day is None:
            # per-site native grid: infer slots from the site's own rows
            if len(day_index) == 0 or len(pdf) % len(day_index) != 0:
                raise ValueError(
                    f"site {site_id!r}: {len(pdf)} rows over "
                    f"{len(day_index)} distinct dates is not a whole "
                    "number of equal days — standardize_grid() must run "
                    "before scoring"
                )
            spd = len(pdf) // len(day_index)
        else:
            spd = slots_per_day
        if len(pdf) % spd != 0:
            raise ValueError(
                f"site {site_id!r}: standardized series has {len(pdf)} rows, "
                f"not a whole number of {spd}-slot days — "
                "standardize_grid() must run before scoring"
            )
        n_days = len(pdf) // spd
        if len(day_index) != n_days:
            raise ValueError(
                f"site {site_id!r}: {len(day_index)} distinct dates but "
                f"{n_days} whole days of rows — duplicate or missing grid "
                "slots; standardize_grid() must run before scoring"
            )
        mat = (
            pdf.value.to_numpy(dtype=np.float64)
            .reshape(-1, spd)
            .T
        )
        out = score_site_matrix(mat)
        return pd.DataFrame(
            {
                site_col: pdf[site_col].iloc[0],
                "date": pd.Series(day_index).dt.date,
                "density": out["density"],
                "linearity": out["linearity"],
                "clipping_1": out["clipping_1"],
                "clipping_2": out["clipping_2"],
                "quality_clustering": out["quality_clustering"],
                "no_errors": out["no_errors"],
                "clear": out["clear"],
                "clipped": out["clipped"],
                "capacity_estimate": out["capacity_estimate"],
                "data_quality_score": out["data_quality_score"],
                "data_clearness_score": out["data_clearness_score"],
                "inverter_clipping": out["inverter_clipping"],
            }
        )

    return grouped_apply(
        standardized.select(site_col, "grid_ts", "value"),
        [site_col],
        _score,
        schema,
        capture_errors=capture_errors,
    )

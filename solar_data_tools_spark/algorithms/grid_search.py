"""Hyperparameter grid fan-out (SURVEY §2.8 wrappers).

The reference runs its w1 / weight / threshold grids as sequential Python
loops with holdout validation (time_shifts.py:201-272,
capacity_change.py:132-182, sunrise_sunset_estimation.py:184-335). On
Spark the grid is DATA: a parameter DataFrame cross-joined against the
per-site series, solved in one grouped-map pass — (sites x grid points)
concurrent solves, then an argmin per site.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from solar_data_tools_spark.shipping import ensure_package_on_executors


def tune_time_shift_w1(
    daily: DataFrame,
    w1_grid: list[float] | None = None,
    holdout_frac: float = 0.15,
    seed: int = 42,
    noon_col: str = "solar_noon_com",
    site_col: str = "site",
    use_col: str | None = None,
    selection: str = "argmin",
    knee_tol: float = 0.05,
) -> DataFrame:
    """w1 grid search for the time-shift decomposition (D1) with seeded
    holdout validation, fleet-parallel.

    For each (site, w1): fit D1 on the train days, score pinball-free MSE
    of (pwc + seasonal) on the holdout days. Returns the per-site best
    row: (site, best_w1, holdout_mse, n_grid).

    ``use_col`` masks the fit to good days (the reference's use_ixs,
    time_shifts.py:65-69). ``selection="knee"`` picks the LARGEST w1
    whose holdout error is within ``knee_tol`` of the minimum — the
    parsimony rule mirroring the reference's error-increase-threshold
    pick (time_shifts.py:250-262: step up w1 until the holdout error
    jumps), which prevents argmin's bias toward overfit small-w1 fits;
    ``"argmin"`` (default, the committed q74 semantics) takes the
    smallest error outright.
    """
    ensure_package_on_executors(daily.sparkSession)
    if w1_grid is None:
        w1_grid = [float(w) for w in np.logspace(-1, 1.5, 11)]
    spark = daily.sparkSession
    params = spark.createDataFrame(
        [(i, float(w)) for i, w in enumerate(w1_grid)], "grid_ix int, w1 double"
    )
    sel_cols = [site_col, "date", noon_col] + ([use_col] if use_col else [])
    grid = daily.select(*sel_cols).crossJoin(F.broadcast(params))

    site_dtype = dict(daily.dtypes)[site_col]
    st = "string" if site_dtype == "string" else "long"
    schema = f"{site_col} {st}, w1 double, holdout_mse double"

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        from solar_data_tools_spark.solvers.decompositions import (
            l2_l1d1_l2d2p365_fit,
        )

        pdf = pdf.sort_values("date").reset_index(drop=True)
        y = pdf[noon_col].to_numpy(dtype=np.float64)
        if use_col is not None:
            use = pdf[use_col].fillna(False).to_numpy(dtype=bool)
            y = np.where(use & np.isfinite(y), y, np.nan)
        n = len(y)
        rng = np.random.default_rng(seed)
        holdout = rng.random(n) < holdout_frac
        y_train = np.where(holdout, np.nan, y)
        w1 = float(pdf["w1"].iloc[0])
        pwc, seasonal = l2_l1d1_l2d2p365_fit(
            y_train, w1=w1, period=min(n, 365.2425)
        )
        fit = pwc + seasonal
        resid = (y - fit)[holdout & np.isfinite(y) & np.isfinite(fit)]
        mse = float(np.mean(resid**2)) if len(resid) else float("inf")
        return pd.DataFrame(
            {site_col: [pdf[site_col].iloc[0]], "w1": [w1], "holdout_mse": [mse]}
        )

    from solar_data_tools_spark.parallel import grouped_apply

    scores = grouped_apply(grid, [site_col, "grid_ix"], _score, schema)
    # Integer-tick ranking key (round 9, r8 verdict item 4 — the q143
    # recipe): the per-(site, w1) MSE is bit-deterministic (the whole
    # group solves in ONE task over date-sorted input), but the ARGMIN
    # comparison itself should not ride raw doubles — quantize to 1e-6
    # ticks (LONG) so the selected w1 is replayable from the emitted
    # mse values by integer comparison alone. inf (no holdout days)
    # ranks last via the LONG_MAX sentinel.
    _mse_fp = F.when(
        F.col("holdout_mse") == float("inf"),
        F.lit((1 << 63) - 1).cast("long"),
    ).otherwise(
        F.floor(F.col("holdout_mse") * F.lit(1e6) + F.lit(0.5)).cast(
            "long"
        )
    )
    scores = scores.withColumn("_mse_fp", _mse_fp)
    if selection == "knee":
        # largest w1 within (1 + knee_tol) of the per-site minimum error
        min_mse = Window.partitionBy(site_col)
        scores = scores.withColumn(
            "_min", F.min("holdout_mse").over(min_mse)
        ).where(
            F.col("holdout_mse")
            <= F.col("_min") * F.lit(1.0 + float(knee_tol))
        )
        pick = Window.partitionBy(site_col).orderBy(F.desc("w1"))
    else:
        pick = Window.partitionBy(site_col).orderBy(
            F.asc("_mse_fp"), F.asc("w1")
        )
    return (
        scores.withColumn("_rn", F.row_number().over(pick))
        .where(F.col("_rn") == 1)
        .select(
            site_col,
            F.col("w1").alias("best_w1"),
            F.col("holdout_mse"),
            # _score returns one row per group (inf without holdout days),
            # so every site solves exactly len(w1_grid) points; a count
            # joined back from the grid output would run the solve twice
            F.lit(len(w1_grid)).cast("long").alias("n_grid"),
        )
    )

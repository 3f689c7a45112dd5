"""Sensor identification (SURVEY §2.10 M2; reference:
sensor_identification.py:27-124).

For each candidate sensor series, score how well it predicts the power
series: correlation + sequential k-fold cross-validated linear-regression
RMSE (the reference uses sklearn TimeSeriesSplit + LinearRegression/
Huber; here the folds and the closed-form OLS are pure numpy, so the
result is deterministic). The best sensor per site is the argmin cv-RMSE.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from solar_data_tools_spark.parallel import site_key_type


def _cv_rmse(x: np.ndarray, y: np.ndarray, k: int = 5) -> float:
    """Sequential (time-series) k-fold CV of y ~ a + b x, closed form."""
    mask = np.isfinite(x) & np.isfinite(y)
    x, y = x[mask], y[mask]
    n = len(x)
    if n < 2 * k:
        return float("inf")
    fold = n // (k + 1)
    errs = []
    for i in range(1, k + 1):
        tr = slice(0, i * fold)
        te = slice(i * fold, min((i + 1) * fold, n))
        xt, yt = x[tr], y[tr]
        A = np.column_stack([np.ones(len(xt)), xt])
        coef, *_ = np.linalg.lstsq(A, yt, rcond=None)
        pred = coef[0] + coef[1] * x[te]
        errs.append(np.sqrt(np.mean((y[te] - pred) ** 2)))
    return float(np.mean(errs)) if errs else float("inf")


def identify_best_sensor(
    joined: DataFrame,
    site_col: str = "site",
    sensor_col: str = "sensor",
    power_col: str = "power",
    sensor_val_col: str = "sensor_value",
) -> DataFrame:
    """Input: long table (site, sensor, ts-ordered rows of power,
    sensor_value). Output: one row per (site, sensor) with corrcoef and
    cv_rmse, plus ``is_best`` marking the per-site winner
    (deterministic tie-break: lower rmse, then sensor name)."""
    schema = (
        f"{site_col} {site_key_type(joined, site_col)}, "
        f"{sensor_col} string, corr double, cv_rmse double"
    )

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts").reset_index(drop=True)
        x = pdf[sensor_val_col].to_numpy(dtype=np.float64)
        y = pdf[power_col].to_numpy(dtype=np.float64)
        mask = np.isfinite(x) & np.isfinite(y)
        corr = (
            float(np.corrcoef(x[mask], y[mask])[0, 1]) if mask.sum() > 2 else np.nan
        )
        return pd.DataFrame(
            {
                site_col: [pdf[site_col].iloc[0]],
                sensor_col: [str(pdf[sensor_col].iloc[0])],
                "corr": [corr],
                "cv_rmse": [_cv_rmse(x, y)],
            }
        )

    from solar_data_tools_spark.parallel import grouped_apply

    scores = grouped_apply(
        joined.select(site_col, sensor_col, "ts", power_col, sensor_val_col),
        [site_col, sensor_col],
        _score,
        schema,
    )
    pick = Window.partitionBy(site_col).orderBy(
        F.asc("cv_rmse"), F.asc(sensor_col)
    )
    return scores.withColumn(
        "is_best", F.row_number().over(pick) == 1
    )

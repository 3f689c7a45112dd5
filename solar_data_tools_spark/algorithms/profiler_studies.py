"""Profiler study harnesses — the reference's ``pvsystemprofiler``
"study" sweep drivers re-expressed as one declarative method-grid x site
fan-out per study.

Reference parity (WHAT is computed):

* ``LatitudeStudy.run`` — pvsystemprofiler/latitude_study.py:29,80-196:
  grid over declination equation x daylight-hour method x day selection,
  one latitude estimate per configuration (median over days of the
  Duffie & Beckman eq. 1.6.11 inversion).
* ``LongitudeStudy.run`` — pvsystemprofiler/longitude_study.py:32,72-230:
  grid over solar-noon method x estimator (calculated / L2 / L1 / Huber
  fit) x equation-of-time variant x day selection, one longitude per
  configuration (eq. 1.5.2: lon = (720 - noon_min - eot)/4 + 15*gmt).
* ``TiltAzimuthStudy.run`` — pvsystemprofiler/tilt_azimuth_study.py:39:
  grid over declination equation x initial values, numerical cosθ fit
  (eq. 1.6.2) per configuration.

HOW is Spark-first, and differs from the reference deliberately:

* The reference loops a Python grid per site over numpy matrices; here
  the per-day statistics are computed ONCE per site in one wide
  aggregate, the configuration grid is a tiny literal DataFrame
  cross-joined in (broadcast — a few dozen rows), and every estimator
  that is a closed-form location statistic (median / mean) runs as a
  built-in aggregate with map-side partials. The whole fleet x grid
  sweep is ONE shuffle on (site, config).
* Only the Huber fit (no closed form) drops to a ``grouped_apply``
  IRLS — and only for the huber rows of the grid, per (site, config)
  group (tiny: n_days values each).
* Day-selection flags come from an optional ``flags`` DataFrame
  (site, date, clear) — the pipeline's clear-day labels
  (``daily_flags.detect_clear_days``). Without one, a documented cheap
  proxy is used: smoothness below the per-site median (the first half
  of the reference's two-filter AND).

At 100 TB: the measurement table shuffles once per study (the daily
aggregate); the grid multiplies only the DAILY table (sites x days x
|grid| rows of a few columns), never the raw measurements.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from solar_data_tools_spark.functions import solar as sol
from solar_data_tools_spark.operators.canonical import tick_avg
from solar_data_tools_spark.parallel import grouped_apply, site_key_type

_LON_ESTIMATORS = ("calculated", "fit_l1", "fit_l2", "fit_huber")
_EOT_METHODS = ("duffie", "da_rosa")
_NOON_METHODS = ("rise_set_average", "energy_com")
_DAY_SELECTIONS = ("all", "clear", "cloudy")
_DELTA_METHODS = ("cooper", "spencer")
_DAYLIGHT_METHODS = ("sunrise-sunset", "raw daylight")


def _daily_noon_daylight(
    meas: DataFrame,
    site_col: str,
    threshold_frac: float,
) -> DataFrame:
    """One wide pass over the measurement table: per (site, date) the
    solar-noon estimates (both methods, minutes) and daylight-hour
    estimates (both methods), plus the smoothness used by the default
    clear-day proxy. All built-in aggregates — one shuffle."""
    v = F.col("value")
    cap = meas.groupBy(site_col).agg(
        F.expr("percentile(value, 0.95)").alias("_cap")
    )
    j = meas.join(F.broadcast(cap), site_col)
    thr = F.lit(threshold_frac) * F.col("_cap")
    day_hod = F.when(v > thr, F.col("hod"))
    # second difference along the day for the smoothness proxy; the day
    # window rides the same (site, date) distribution the final groupBy
    # needs, so the window and the aggregate share one shuffle
    day_w = Window.partitionBy(site_col, "date").orderBy("hod")
    dd = (
        j.withColumn("_prev", F.lag("value", 1).over(day_w))
        .withColumn("_next", F.lead("value", 1).over(day_w))
        .withColumn("_d2", F.col("_next") - 2 * v + F.col("_prev"))
    )
    # first-above-threshold slot lags true sunrise by up to one slot and
    # last-above leads sunset likewise, so the raw span UNDERESTIMATES
    # daylight by ~one slot width in expectation; the latitude inversion
    # divides by tan(declination), which amplifies that bias without
    # bound near the equinoxes — add the slot width back (24/slots_day).
    slot_h = 24.0 / F.count(F.lit(1))
    return dd.groupBy(site_col, "date").agg(
        (F.sum(F.col("hod") * v) / F.sum(v) * 60.0).alias("noon_com_min"),
        ((F.min(day_hod) + F.max(day_hod)) / 2.0 * 60.0).alias("noon_rss_min"),
        (F.max(day_hod) - F.min(day_hod) + slot_h).alias("daylight_rss_h"),
        (F.sum((v > thr).cast("int")) * slot_h).alias("daylight_raw_h"),
        F.sum(F.abs("_d2")).alias("_smooth"),
    )


def _with_day_flags(
    daily: DataFrame, flags: DataFrame | None, site_col: str
) -> DataFrame:
    if flags is not None:
        return daily.join(
            flags.select(site_col, "date", "clear"), [site_col, "date"], "left"
        ).withColumn("clear", F.coalesce("clear", F.lit(False)))
    med = F.expr("percentile(_smooth, 0.5)").over(
        Window.partitionBy(site_col)
    )
    return daily.withColumn("clear", F.col("_smooth") <= med)


def _day_selected(day_selection_col: str = "day_selection_method"):
    """Boolean: does this (day, config) row survive the config's day
    selection? 'all' keeps every day; 'clear'/'cloudy' split on the
    clear flag (reference: daily_flags.clear / .cloudy)."""
    ds = F.col(day_selection_col)
    return (
        (ds == "all")
        | ((ds == "clear") & F.col("clear"))
        | ((ds == "cloudy") & ~F.col("clear"))
    )


def longitude_study(
    meas: DataFrame,
    gmt_offset: float = 0.0,
    flags: DataFrame | None = None,
    estimators: tuple[str, ...] = _LON_ESTIMATORS,
    eot_calculations: tuple[str, ...] = _EOT_METHODS,
    solar_noon_methods: tuple[str, ...] = _NOON_METHODS,
    day_selections: tuple[str, ...] = _DAY_SELECTIONS,
    site_col: str = "site",
    threshold_frac: float = 0.001,
    exact_digits: int | None = None,
) -> DataFrame:
    """The LongitudeStudy sweep: one longitude estimate per
    (site, estimator, eot_calculation, solar_noon_method,
    day_selection_method) — the reference's tidy ``results`` table
    (longitude_study.py:236-243), fleet-wide.

    Estimator semantics (longitude_study.py + algorithms/longitude/*):
    the daily longitude sample is lon_day = (720 - noon_min - eot)/4 +
    15*gmt (calculation.py:19-37); 'calculated' is the median of daily
    samples (calculation.py:12-16), and because the fit residual is
    linear in lon (fitting.py:14-18), the L2 fit is the MEAN, the L1
    fit the MEDIAN, and the Huber fit the Huber M-location (IRLS, delta
    = 1 hour of solar-noon residual = 15 degrees of longitude).
    """
    for e in estimators:
        if e not in _LON_ESTIMATORS:
            raise ValueError(f"unknown estimator {e!r}")
    daily = _with_day_flags(
        _daily_noon_daylight(meas, site_col, threshold_frac), flags, site_col
    )
    spark = meas.sparkSession
    grid = spark.createDataFrame(
        [
            (e, eot, sn, ds)
            for e in estimators
            for eot in eot_calculations
            for sn in solar_noon_methods
            for ds in day_selections
        ],
        "estimator string, eot_calculation string, "
        "solar_noon_method string, day_selection_method string",
    )
    doy = F.dayofyear("date")
    eot = F.when(
        F.col("eot_calculation") == "duffie", sol.eot_duffie(doy)
    ).otherwise(sol.eot_da_rosa(doy))
    noon = F.when(
        F.col("solar_noon_method") == "energy_com", F.col("noon_com_min")
    ).otherwise(F.col("noon_rss_min"))
    samples = (
        daily.crossJoin(F.broadcast(grid))
        .where(_day_selected())
        .withColumn("lon_day", sol.calc_lon(noon, eot, gmt_offset=gmt_offset))
        .where(F.col("lon_day").isNotNull())
    )
    keys = [
        site_col,
        "estimator",
        "eot_calculation",
        "solar_noon_method",
        "day_selection_method",
    ]
    closed = (
        samples.where(F.col("estimator") != "fit_huber")
        .groupBy(*keys)
        .agg(
            # exact_digits (round 9): the fit_l2 leg is a many-term float
            # mean riding q135's oracle hash — tick-exact when requested
            # (canonical.tick_avg); the median legs are selection-based
            # (order-free already).
            (
                tick_avg("lon_day", exact_digits)
                if exact_digits is not None
                else F.avg("lon_day")
            ).alias("_mean"),
            F.expr("percentile(lon_day, 0.5)").alias("_median"),
        )
        .select(
            *keys,
            F.when(F.col("estimator") == "fit_l2", F.col("_mean"))
            .otherwise(F.col("_median"))
            .alias("longitude"),
        )
    )
    if "fit_huber" not in estimators:
        return closed

    schema = (
        f"{site_col} {site_key_type(meas, site_col)}, estimator string, "
        "eot_calculation string, solar_noon_method string, "
        "day_selection_method string, longitude double"
    )

    def _huber(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["lon_day"].to_numpy(dtype=np.float64)
        x = x[np.isfinite(x)]
        if len(x) == 0:
            lon = float("nan")
        else:
            # Huber M-location by IRLS; delta = 1 in solar-noon HOURS
            # (cvx.huber's default M), i.e. 15 in longitude degrees
            delta = 15.0
            lon = float(np.median(x))
            for _ in range(100):
                r = x - lon
                a = np.abs(r)
                w_ = np.where(a <= delta, 1.0, delta / np.maximum(a, 1e-300))
                new = float(np.sum(w_ * x) / np.sum(w_))
                if abs(new - lon) < 1e-12:
                    lon = new
                    break
                lon = new
        head = pdf.iloc[:1]
        return pd.DataFrame(
            {
                site_col: head[site_col].values,
                "estimator": head["estimator"].values,
                "eot_calculation": head["eot_calculation"].values,
                "solar_noon_method": head["solar_noon_method"].values,
                "day_selection_method": head["day_selection_method"].values,
                "longitude": [lon],
            }
        )

    huber = grouped_apply(
        samples.where(F.col("estimator") == "fit_huber").select(
            *keys, "lon_day"
        ),
        keys,
        _huber,
        schema,
    )
    return closed.unionByName(huber)


def latitude_study(
    meas: DataFrame,
    flags: DataFrame | None = None,
    delta_methods: tuple[str, ...] = _DELTA_METHODS,
    daylight_methods: tuple[str, ...] = _DAYLIGHT_METHODS,
    day_selections: tuple[str, ...] = _DAY_SELECTIONS,
    site_col: str = "site",
    threshold_frac: float = 0.001,
) -> DataFrame:
    """The LatitudeStudy sweep: one latitude per (site,
    declination_method, daylight_calculation, day_selection_method) —
    the reference's results table (latitude_study.py:146-155,191).

    Daily daylight hours per method (latitude_study.py:198-220 /
    algorithms/latitude/hours_daylight.py): 'sunrise-sunset' = span
    between first and last above-threshold slot; 'raw daylight' =
    above-threshold slot count x sampling. Latitude per day inverts
    Duffie & Beckman eq. 1.6.11 (calculation.py:14-30); the study
    statistic is the median over selected days. Zero Python UDFs —
    the entire sweep is built-in expressions and one grouped
    aggregate."""
    daily = _with_day_flags(
        _daily_noon_daylight(meas, site_col, threshold_frac), flags, site_col
    )
    spark = meas.sparkSession
    grid = spark.createDataFrame(
        [
            (dm, dl, ds)
            for dm in delta_methods
            for dl in daylight_methods
            for ds in day_selections
        ],
        "declination_method string, daylight_calculation string, "
        "day_selection_method string",
    )
    doy = F.dayofyear("date")
    # delta_cooper returns DEGREES, delta_spencer RADIANS (matching the
    # q71 oracle's convention) — calc_lat wants degrees, so convert
    delta = F.when(
        F.col("declination_method") == "spencer",
        F.degrees(sol.delta_spencer(doy)),
    ).otherwise(sol.delta_cooper(doy))
    hours = F.when(
        F.col("daylight_calculation") == "raw daylight",
        F.col("daylight_raw_h"),
    ).otherwise(F.col("daylight_rss_h"))
    samples = (
        daily.crossJoin(F.broadcast(grid))
        .where(_day_selected())
        .withColumn("lat_day", sol.calc_lat(hours, delta))
        .where(F.col("lat_day").isNotNull())
    )
    return samples.groupBy(
        site_col,
        "declination_method",
        "daylight_calculation",
        "day_selection_method",
    ).agg(F.expr("percentile(lat_day, 0.5)").alias("latitude"))


def tilt_azimuth_study(
    meas: DataFrame,
    lat_deg: float,
    lon_deg: float | None = None,
    gmt_offset: float = 0.0,
    delta_methods: tuple[str, ...] = _DELTA_METHODS,
    init_values: tuple[tuple[float, float], ...] = ((20.0, 0.0),),
    site_col: str = "site",
    threshold_frac: float = 0.05,
) -> DataFrame:
    """The TiltAzimuthStudy sweep: one (tilt, azimuth) per (site,
    declination_method, init_tilt, init_azimuth) — the reference's
    results table (tilt_azimuth_study.py:39,200+), via the existing
    Gauss-Newton cosθ fit (orientation.fit_tilt_azimuth, M4).

    ``lon_deg``/``gmt_offset`` convert clock time to solar time before
    the hour angle (the reference's ``calculate_omega`` does the same
    with its ``lon_input``); with ``lon_deg=None`` the ``hod`` column is
    taken as already-solar time. Response is normalized by the per-site
    99.9th percentile (the p95 used for daytime thresholds sits well
    below the true peak and would bias the fitted amplitude into tilt).

    The config grid multiplies only the SAMPLE table (site x slots x
    |grid|); each (site, config) group solves independently inside
    ``grouped_apply`` — the same plan-owned fan-out as the reference's
    random-restart loop, but across the whole fleet at once."""
    cap = meas.groupBy(site_col).agg(
        F.expr("percentile(value, 0.999)").alias("_cap")
    )
    j = meas.join(F.broadcast(cap), site_col)
    spark = meas.sparkSession
    grid = spark.createDataFrame(
        [
            (dm, float(t0), float(a0))
            for dm in delta_methods
            for (t0, a0) in init_values
        ],
        "declination_method string, init_tilt double, init_azimuth double",
    )
    doy = F.dayofyear("date")
    if lon_deg is None:
        solar_h = F.col("hod")
    else:
        # clock -> solar: + (EoT + 4*(lon - 15*gmt)) minutes (eq. 1.5.2;
        # reference utilities/hour_angle_equation.py calculate_omega)
        solar_h = (
            F.col("hod")
            + (
                sol.eot_duffie(doy)
                + 4.0 * (F.lit(float(lon_deg)) - 15.0 * gmt_offset)
            )
            / 60.0
        )
    samples = (
        j.select(
            site_col,
            F.col("date"),
            sol.hour_angle(solar_h).alias("omega_deg"),
            (F.col("value") / F.col("_cap")).alias("costheta"),
        )
        .where(F.col("costheta") > threshold_frac)
        .crossJoin(F.broadcast(grid))
        .withColumn(
            "delta_deg",
            F.when(
                F.col("declination_method") == "spencer",
                F.degrees(sol.delta_spencer(doy)),
            ).otherwise(sol.delta_cooper(doy)),
        )
    )
    keys = [site_col, "declination_method", "init_tilt", "init_azimuth"]
    schema = (
        f"{site_col} {site_key_type(meas, site_col)}, "
        "declination_method string, init_tilt double, init_azimuth double, "
        "tilt_deg double, azimuth_deg double"
    )

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        from solar_data_tools_spark.algorithms.orientation import (
            fit_tilt_azimuth,
        )

        tilt, az = fit_tilt_azimuth(
            pdf["delta_deg"].to_numpy(dtype=np.float64),
            pdf["omega_deg"].to_numpy(dtype=np.float64),
            pdf["costheta"].to_numpy(dtype=np.float64),
            lat_deg,
            init_tilt=float(pdf["init_tilt"].iloc[0]),
            init_az=float(pdf["init_azimuth"].iloc[0]),
        )
        head = pdf.iloc[:1]
        return pd.DataFrame(
            {
                site_col: head[site_col].values,
                "declination_method": head["declination_method"].values,
                "init_tilt": head["init_tilt"].values,
                "init_azimuth": head["init_azimuth"].values,
                "tilt_deg": [tilt],
                "azimuth_deg": [az],
            }
        )

    return grouped_apply(
        samples.select(*keys, "delta_deg", "omega_deg", "costheta"),
        keys,
        _fit,
        schema,
    )

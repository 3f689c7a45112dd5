"""Fleet pipeline — the Spark equivalent of ``DataHandler.run_pipeline``
(SURVEY.md §3.1, reference data_handler.py:220-716).

Where the reference runs one site at a time through numpy stages, this
pipeline takes a long measurement table of the WHOLE FLEET and emits:

  * ``standardized`` — regular-grid long table (T1/T2),
  * ``daily``        — fact_daily with scores/flags (A1-A14, one agg),
  * ``report``       — one row per site (scalar metrics).

Stage boundaries are DataFrames, so Catalyst fuses the SQL stages; the
only shuffles are groupBy(site, grid slot), groupBy(site, date) and
groupBy(site) — see SURVEY §3.1 "Spark lifecycle equivalent".
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
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
    standardize_time_axis,
)


@dataclass
class PipelineResult:
    standardized: DataFrame
    daily: DataFrame
    report: DataFrame
    sampling: DataFrame
    extras: dict = field(default_factory=dict)


def run_pipeline(
    measurements: DataFrame,
    sampling_seconds: int | None = None,
    max_val: float | None = None,
    min_val: float | None = None,
    slots_per_day: int | None = None,
    per_site: bool = False,
    materialize: str = "none",
) -> PipelineResult:
    """Run the relational pipeline for every site in ``measurements``.

    Input schema: (site, ts, seq, value). If ``sampling_seconds`` is None
    it is inferred per-fleet as the global modal delta (T1) — one tiny
    aggregate collected to the driver, mirroring the reference's scalar
    ``data_sampling`` attribute.

    ``materialize="local"`` localCheckpoints the standardized grid BEFORE
    daily statistics are derived from it, so a caller that fans the
    result out to several consumers (the fleet report, the q169 spine)
    computes the explode+nearest-join grid chain exactly once — with
    the checkpoint placed here, ``daily``'s lineage reads the
    checkpoint instead of embedding a second copy of the chain (r11
    review: two independent downstream checkpoints still ran the grid
    twice). The checkpoint is DISK_ONLY: a cached fleet-scale grid
    competing for unified memory OOMed a vanilla 1g session at sf0.1
    (r11) — the narrow table re-reads cheaply from local disk. Off by
    default: a single-consumer pipeline should stay fully lazy.
    ``materialize`` takes the ``session.materialize_df`` modes:
    ``"none"``, ``"local"`` and ``"reliable"``, which checkpoints the
    grid into the session's checkpoint directory (set
    ``spark.sparkContext.setCheckpointDir`` to a DFS path) so a LONG
    fleet job on preemptible executors survives executor loss: a
    localCheckpoint's executor-local blocks cannot be recomputed, so
    losing one executor fails the whole job (r11 verdict item 3 —
    job-retry semantics, never wrong answers).

    ``per_site=True`` grids each site at its OWN inferred cadence (the
    reference runs one site at a time, so its grid is always native; a
    heterogeneous fleet forced onto one global grid turns every
    slower-cadence site into mostly-null slots and garbage density
    scores). In this mode ``sampling_seconds``/``slots_per_day`` are
    ignored and the daily energy integral scales by each site's own
    sampling.
    """
    from solar_data_tools_spark.session import materialize_df

    sampling = infer_sampling_seconds(measurements)
    clamped = clamp_to_null(measurements, "value", min_val, max_val)

    if per_site:
        from solar_data_tools_spark.operators.time_axis import (
            snap_sampling_to_day_divisor,
        )

        # grid cadence = nearest 86400-divisor of the inferred sampling,
        # so every site's day holds a whole number of slots
        sampling = snap_sampling_to_day_divisor(sampling)
        grid = sampling.select(
            "site", F.col("grid_seconds").alias("sampling_seconds")
        )
        standardized = standardize_time_axis(clamped, grid)
        standardized = materialize_df(standardized, materialize)
        samp = sampling.select(
            "site",
            F.col("grid_seconds").cast("long").alias("_samp_s"),
        )
        std_meas = with_time_columns(
            standardized.join(F.broadcast(samp), "site").select(
                "site",
                F.col("grid_ts").alias("ts"),
                (
                    F.unix_micros("grid_ts")
                    / (F.col("_samp_s") * F.lit(1_000_000))
                )
                .cast("long")
                .alias("seq"),
                "value",
                "_samp_s",
            ),
            sampling_seconds="_samp_s",
        )
        daily = daily_statistics(
            std_meas, approx_capacity=True, sampling_col="_samp_s"
        )
        clip = clipping_stats(std_meas)
        daily = daily.join(clip, on=["site", "date"], how="left")
        report = dataset_report(daily)
        return PipelineResult(
            standardized=standardized,
            daily=daily,
            report=report,
            sampling=sampling,
        )

    if sampling_seconds is None:
        # fleet-level modal sampling: cheap driver-side scalar (guard stage,
        # SURVEY §4.1 "early-exit guards run as a separate small action")
        row = (
            sampling.groupBy("sampling_seconds")
            .count()
            .orderBy(F.desc("count"), F.asc("sampling_seconds"))
            .first()
        )
        sampling_seconds = int(row["sampling_seconds"]) if row else 300
    if slots_per_day is None:
        slots_per_day = max(int(86400 // sampling_seconds), 1)

    standardized = standardize_time_axis(clamped, sampling_seconds)
    standardized = materialize_df(standardized, materialize)

    # deterministic seq: the absolute grid slot index. Unlike
    # monotonically_increasing_id() it survives task retries / plan
    # re-evaluation unchanged (pure function of grid_ts).
    us = int(sampling_seconds) * 1_000_000
    std_meas = with_time_columns(
        standardized.select(
            "site",
            F.col("grid_ts").alias("ts"),
            (F.unix_micros("grid_ts") / F.lit(us)).cast("long").alias("seq"),
            "value",
        ),
        sampling_seconds=sampling_seconds,
    )
    daily = daily_statistics(
        std_meas, slots_per_day=slots_per_day, approx_capacity=True
    )
    clip = clipping_stats(std_meas)
    daily = daily.join(clip, on=["site", "date"], how="left")
    report = dataset_report(daily)
    return PipelineResult(
        standardized=standardized,
        daily=daily,
        report=report,
        sampling=sampling,
    )

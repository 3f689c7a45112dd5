"""Parallelism control for solver-layer grouped-map stages.

AQE coalesces shuffle partitions by BYTE size — the right cost model for
relational stages, the wrong one for grouped-map stages where each row
group carries a CPU-heavy solve (a fleet's daily table is ~1 MB but
thousands of solver-seconds). Left alone, AQE folds the whole fleet into
one task and serializes the solver layer.

``grouped_apply`` is the solver layer's grouped-map primitive. It is
``groupBy(keys).applyInPandas(fn)`` re-expressed as an explicit
``repartitionByRange(n, keys)`` followed by ``mapInPandas`` with an
in-task pandas groupby, which fixes three things the naive form gets
wrong:

1. **Parallelism is plan-owned, not config-owned.** A user repartition
   with an explicit partition count is a ``REPARTITION_BY_NUM`` shuffle,
   which AQE's partition coalescing never touches — on ANY session,
   including externally created vanilla ones, with NO session-config
   override (``applyInPandas`` would instead insert its own coalescible
   exchange via EnsureRequirements, which once forced a global
   ``minPartitionSize`` override; that config side effect is gone now
   that every solver stage routes through ``grouped_apply`` — asserted
   by ``test_plan_audits.py::test_grouped_apply_survives_aqe``).
2. **Placement comes from the keys' run-time distribution.** Range
   bounds are drawn from a sample of the stage's keys (one small
   sampling job that re-reads the stage's input), so a fleet of k <= n
   sites gets k distinct partitions — one core per site — and a larger
   fleet gets contiguous key ranges balanced by row count. A hash
   placement lets two sites of a two-site fleet share one task while
   the other core idles.
3. **One Python worker round-trip per PARTITION, not per group.** Arrow
   transfer + per-task setup is ~10 ms; at one task per tiny group a
   100k-site fleet pays 100k round-trips. Groups in a partition run
   sequentially inside one task, which also lets callers batch across
   groups (see ``solve_tl1_l2d2p365_batch``).

Memory bound per task = the partition's row slice (each of the ``n``
ranges holds ~1/n of the sampled rows), the same bound
``applyInPandas`` already imposed per group times groups-per-task —
daily/solver tables are a few MB per 1000 sites, far under executor
memory.

``grouped_apply`` is also the one owner of the per-group stage contract,
so a solver stage states only its kernel and its output schema: it ships
the package to the executors, bounds each group's memory, and with
``capture_errors=True`` turns a group's failure into an error row (the
fleet runner's per-site isolation). :func:`site_key_type` gives the
type a stage emits for its site key.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

# Task waves per core: range bounds balance ROWS, not solve time, and a
# site's solve time varies several-fold with its data, so several
# smaller ranges per core let the scheduler even the solver load out
# between cores.
TASKS_PER_CORE = 4

# Per-group pandas budget for grouped-map kernels. A 3-year 5-min site
# measured 26.5 MB and a 400-day one 9.7 MB; the guard exists for the
# pathological tail a 100 TB fleet will contain (a 1-second-cadence
# site, a corrupt ingest that lands one site 1000x its share): without
# it, ONE such group OOMs an executor and kills the whole fleet job.
# With it, the site fails loudly, or becomes a per-site error row on a
# capturing stage (``grouped_apply(..., capture_errors=True)``), matching
# the fleet-runner isolation contract. The check is one pandas
# memory_usage(deep=True) call per group — O(columns) on the numeric
# frames the solver tier feeds (deep string scans only arise on
# curation-tier frames, which set no budget).
#
# Scope (honest, per the r9 ADVICE): the check runs AFTER the
# partition's Arrow batches are concatenated, so it bounds the
# KERNEL/SOLVER allocation the group triggers (matrices, solver state,
# per-group numpy stacks — the multi-x amplification that actually
# OOMs workers), NOT the raw pandas residency of the partition itself.
# A corrupt ingest so large that merely HOLDING the rows in the Python
# worker fails would still OOM before the guard fires; the structural
# mitigation for that layer is the cores*4 range split of
# ``repartitionByRange(n, *keys)`` (one partition holds ~1/n of the
# sampled rows) plus executor memory sized for
# ``spark.sql.execution.arrow.maxRecordsPerBatch``-scale buffering. A
# pre-concat check cannot be made per-GROUP without per-key streaming
# (a batch legitimately mixes many small groups, and one group
# legitimately spans many batches).
DEFAULT_GROUP_BUDGET_BYTES = 512 * 1024 * 1024
NO_ERROR = "No error"  # the error column of a stage that returned


def site_key_type(df: DataFrame, site_col: str) -> str:
    """The DDL type a grouped-map stage emits for ``df``'s site key: a
    string site stays ``string``, every other type is ``long``."""
    return "string" if dict(df.dtypes)[site_col] == "string" else "long"


def _check_group_budget(
    pdf: pd.DataFrame, budget: int | None, what: str
) -> None:
    if budget is None:
        return
    b = int(pdf.memory_usage(deep=True).sum())
    if b > budget:
        raise MemoryError(
            f"{what}: group holds {b / 2**20:.0f} MiB > "
            f"{budget / 2**20:.0f} MiB per-executor group budget "
            "(raise group_budget_bytes or reduce the group's "
            "cadence/span)"
        )


def capture_site_errors(
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    pdf: pd.DataFrame,
    columns: list[str],
    keys: list[str],
    budget: int | None = DEFAULT_GROUP_BUDGET_BYTES,
) -> pd.DataFrame:
    """``fn(pdf)`` under the fleet runner's per-site isolation contract
    (reference sdt_dask/dask_tool/runner.py:53-146): an ``error`` column
    of ``NO_ERROR``; or, if the budget check or ``fn`` raises, one row of
    ``pdf``'s ``keys`` values, nulls in the other ``columns`` and
    ``"Type: message"`` in ``error``. Used per group by
    ``grouped_apply(capture_errors=True)`` and per stage by a chain of
    stages in one task."""
    try:
        _check_group_budget(pdf, budget, "per-site group")
        out = fn(pdf).copy()
        out["error"] = NO_ERROR
        return out
    except Exception as e:  # noqa: BLE001 — the isolation contract
        row: dict = {c: [None] for c in columns}
        for k in keys:
            row[k] = [pdf[k].iloc[0]]
        row["error"] = [f"{type(e).__name__}: {e}"]
        return pd.DataFrame(row)


def grouped_apply(
    df: DataFrame,
    keys: list[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    group_budget_bytes: int | None = None,
    capture_errors: bool = False,
) -> DataFrame:
    """``groupBy(keys).applyInPandas(fn, schema)`` with plan-owned
    parallelism and per-partition Python round-trips (see module
    docstring). ``fn`` receives each group as a pandas DataFrame exactly
    as ``applyInPandas`` would (key columns included, index reset).

    Ships the package to executors BEFORE creating the mapInPandas
    closure: a UDF's python-includes list is captured into its
    PythonFunction at creation time, so an ``addPyFile`` issued after
    building the closure never reaches the tasks that run it.

    A group over ``group_budget_bytes`` raises ``MemoryError``.

    ``capture_errors=True`` runs each group through
    :func:`capture_site_errors`, so a failing group is an error row, not
    a failed job, and adds its ``error string`` column. Capturing stages
    default the budget to ``DEFAULT_GROUP_BUDGET_BYTES``, so an
    over-budget site is annotated before its kernel allocates solver
    state. Every key must be a column of ``schema`` (``ValueError``
    otherwise, when the plan is built).
    """
    from solar_data_tools_spark.shipping import ensure_package_on_executors

    spark = df.sparkSession
    key_list = list(keys)
    budget, col_names = group_budget_bytes, []
    if capture_errors:
        from pyspark.sql.types import StructType

        col_names = StructType.fromDDL(schema).names
        missing = [k for k in key_list if k not in col_names]
        if missing:
            raise ValueError(
                f"grouped_apply: key columns {missing} not in schema "
                f"{schema!r} (parsed columns: {col_names})"
            )
        if budget is None:
            budget = DEFAULT_GROUP_BUDGET_BYTES
        schema = schema + ", error string"

    def apply_group(pdf: pd.DataFrame) -> pd.DataFrame:
        if capture_errors:
            return capture_site_errors(fn, pdf, col_names, key_list, budget)
        _check_group_budget(pdf, budget, "grouped_apply")
        return fn(pdf)

    ensure_package_on_executors(spark)
    n = max(spark.sparkContext.defaultParallelism * TASKS_PER_CORE, 1)
    prepared = df.repartitionByRange(n, *keys)

    def _run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [b for b in batches]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if pdf.empty:
            return
        for _, g in pdf.groupby(key_list, sort=False, dropna=False):
            out = apply_group(g.reset_index(drop=True))
            if out is not None and len(out):
                yield out

    return prepared.mapInPandas(_run, schema)

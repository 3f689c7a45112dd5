"""Deterministic sampling, shuffling, and sequence packing for
training-data pipelines.

LLM pretraining pipelines need three reproducible corpus operations that
plain ``df.sample()`` cannot give (its output depends on partitioning):

* **hash-based (stratified) sampling** — keep a row iff a uniform value
  derived *only from its key* falls under the stratum's rate. The same
  row is kept or dropped regardless of cluster size, partitioning, task
  retries, or engine — which is what makes ablations and incremental
  re-runs reproducible, and what lets a DuckDB oracle check the exact
  same subset.
* **deterministic global shuffle** — a total order by a seeded hash of
  the key. Used to decorrelate document order before packing; seeded so
  a re-run (or a resumed run) sees the identical permutation.
* **concat-then-chunk sequence packing** — documents are concatenated in
  a deterministic order and the token stream is cut into fixed-budget
  packs (context windows). This is the standard pretraining batching
  scheme; the pack id / offset of every document is a pure window
  function of the running token total.

All three are built on ``md5`` (available and bit-identical in Spark and
DuckDB), so every operator here is exactly oracle-checkable.

Scale notes are on each function. No Python UDFs anywhere — everything
is JVM-side expressions + window functions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_uniform(key: Column, seed: int | str = 0) -> Column:
    """Deterministic U[0,1) from a key column.

    First 8 hex chars of ``md5(seed || ':' || key)`` → 32-bit unsigned
    int → divide by 2^32. Identical in DuckDB:
    ``('0x' || substring(md5(seed || ':' || key), 1, 8))::BIGINT
    / 4294967296.0``.

    md5 is JVM-side (whole-stage codegen); one hash per row, no shuffle.
    """
    return hash_u32(key, seed) / F.lit(4294967296.0)


def hash_u32(key: Column, seed: int | str = 0) -> Column:
    """Deterministic 32-bit unsigned integer (as LONG) from a key column:
    the first 8 hex chars of ``md5(seed || ':' || key)``. DuckDB mirror:
    ``('0x' || substring(md5(seed || ':' || key), 1, 8))::BIGINT``.
    The integer form (rather than the ``/2^32`` uniform) is what the
    fixed-point noise generators consume — no float ever enters."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


# fixed-point scale for gumbel_fp6 / _ilog_fp: 2^30
_FP_S = 1 << 30
# round(ln(2) * 2^30): the ONLY transcendental constant in the pipeline,
# baked as an integer literal so both engines use the identical value
_FP_LN2 = 744261118
# floor(sqrt(2) * 2^30): mantissa renormalization threshold
_FP_SQRT2 = 1518500249


def _ilog_fp_steps(df: DataFrame, x: str, s: str) -> DataFrame:
    """Fixed-point natural log of the positive LONG column ``x`` via
    pure integer arithmetic: appends temp columns suffixed ``s`` ending
    with ``_k{s}`` / ``_l{s}`` such that
    ``ln(x) * 2^30 ~= _k{s} * _FP_LN2 + _l{s}``.

    Algorithm: write ``x = 2^k * m``; renormalize ``m`` into
    ``[sqrt(2)/2, sqrt(2))`` (bumping k) so the atanh series argument
    ``t = (m-1)/(m+1)`` stays in ``[-0.172, 0.172]``; evaluate
    ``ln(m) = 2*(t + t^3/3 + t^5/5 + t^7/7 + t^9/9)`` in scaled-integer
    arithmetic (series error < 1e-9 at that radius; integer truncation
    dominates at ~1e-8).

    Every op is LONG +-*, shiftleft/shiftright, and ``div`` — all of
    which Spark and DuckDB evaluate bit-identically (both integer
    divisions truncate toward zero, verified for negative operands), so
    the result is the SAME integer in both engines for every input.
    That is the property float ``ln`` cannot give: libm implementations
    legitimately differ in the last ulp, which is exactly what kept
    q143's hashed Gumbel key flaky across two driver rounds.

    Built as CHAINED PROJECTIONS (withColumn steps), not one nested
    Column: each intermediate is referenced several times downstream,
    so a nested expression tree grows exponentially (the first attempt
    OOM'd the analyzer); as projection steps the plan stays linear and
    Catalyst's CollapseProject leaves multiply-referenced non-cheap
    aliases in place."""
    S = F.lit(_FP_S).cast("long")
    df = df.withColumn(
        f"_k0{s}", (F.length(F.bin(F.col(x))) - F.lit(1)).cast("int")
    )
    df = df.withColumn(
        f"_m0{s}",
        F.when(
            F.col(f"_k0{s}") <= F.lit(30),
            F.call_function(
                "shiftleft",
                F.col(x),
                F.greatest(F.lit(30) - F.col(f"_k0{s}"), F.lit(0)),
            ),
        ).otherwise(
            F.call_function(
                "shiftright",
                F.col(x),
                F.greatest(F.col(f"_k0{s}") - F.lit(30), F.lit(0)),
            )
        ),
    )
    renorm = F.col(f"_m0{s}") > F.lit(_FP_SQRT2)
    df = df.withColumn(
        f"_k{s}",
        F.when(renorm, F.col(f"_k0{s}") + F.lit(1)).otherwise(
            F.col(f"_k0{s}")
        ),
    ).withColumn(
        f"_m{s}",
        F.when(
            renorm, F.call_function("shiftright", F.col(f"_m0{s}"), F.lit(1))
        ).otherwise(F.col(f"_m0{s}")),
    )
    m = F.col(f"_m{s}")
    df = df.withColumn(
        f"_t{s}", F.call_function("div", (m - S) * S, m + S)
    )
    t = F.col(f"_t{s}")
    df = df.withColumn(f"_t2{s}", F.call_function("div", t * t, S))
    t2 = F.col(f"_t2{s}")
    df = df.withColumn(f"_t3{s}", F.call_function("div", t2 * t, S))
    df = df.withColumn(
        f"_t5{s}", F.call_function("div", F.col(f"_t3{s}") * t2, S)
    )
    df = df.withColumn(
        f"_t7{s}", F.call_function("div", F.col(f"_t5{s}") * t2, S)
    )
    df = df.withColumn(
        f"_t9{s}", F.call_function("div", F.col(f"_t7{s}") * t2, S)
    )
    return df.withColumn(
        f"_l{s}",
        F.lit(2)
        * (
            t
            + F.call_function("div", F.col(f"_t3{s}"), F.lit(3))
            + F.call_function("div", F.col(f"_t5{s}"), F.lit(5))
            + F.call_function("div", F.col(f"_t7{s}"), F.lit(7))
            + F.call_function("div", F.col(f"_t9{s}"), F.lit(9))
        ),
    )


def with_gumbel_fp6(df: DataFrame, h: Column, out: str) -> DataFrame:
    """Append column ``out``: integer fixed-point Gumbel(0,1) noise at
    1e-6 ticks (LONG) from the 32-bit hash integer column ``h`` (see
    ``hash_u32``) — the deterministic, engine-exact replacement for
    ``-ln(-ln(h / 2^32))``.

    Two chained ``_ilog_fp_steps`` passes — ``e = 32*ln2 - ln(h)`` then
    ``g = 30*ln2 - ln(e * 2^30)`` — entirely in LONG arithmetic, so the
    output is bit-identical across Spark/DuckDB/partition layouts by
    construction. Deviation from the ideal Gumbel quantile function is
    < 5e-4 over u in (1e-7, 1 - 1e-7); the extreme right tail
    (u > 1 - ~1e-7, ~400 keys in 2^32) is compressed toward ~+15-20
    (still the largest values emitted), and h = 0 is clamped to 1
    (g ~= -3.1, near the distribution's floor). Max |g| ~= 21, so at
    1e-6 ticks the LONG never overflows.

    Mirror the DuckDB side with ``_gumbel_fp6_sql`` in the registry —
    the two spell out the identical integer ops.

    Scale: a per-row expression chain (no shuffle, no UDF, whole-stage
    codegen); the md5 hash is the only non-arithmetic op.
    """
    S = F.lit(_FP_S).cast("long")
    keep = list(df.columns)
    df = df.withColumn("_gh", F.greatest(h, F.lit(1)).cast("long"))
    df = _ilog_fp_steps(df, "_gh", "a")
    df = df.withColumn(
        "_geln",
        F.greatest(
            (F.lit(32) - F.col("_ka")).cast("long") * F.lit(_FP_LN2)
            - F.col("_la"),
            F.lit(1),
        ).cast("long"),
    )
    df = _ilog_fp_steps(df, "_geln", "b")
    gfp = (F.lit(30) - F.col("_kb")).cast("long") * F.lit(_FP_LN2) - F.col(
        "_lb"
    )
    df = df.withColumn(
        out,
        F.call_function("div", (gfp + F.lit(4) * S) * F.lit(1000000), S)
        - F.lit(4000000),
    )
    return df.select(*keep, out)


def hash_sample(
    df: DataFrame,
    rate: float,
    id_col: str = "doc_id",
    seed: int | str = 0,
) -> DataFrame:
    """Keep each row with probability ``rate``, decided only by
    ``md5(seed, id)`` — reproducible across partitionings and engines.

    Scale: a pure filter on a per-row expression; pushes to the scan
    stage, no shuffle, trivially parallel at any corpus size.
    """
    return df.where(hash_uniform(F.col(id_col), seed) < F.lit(float(rate)))


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int | str = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum hash sampling — the *domain-mixing* step of a
    pretraining pipeline ("2x Wikipedia, 0.3x CommonCrawl, ...").

    ``rates`` maps stratum value → keep probability; strata absent from
    the map get ``default_rate``. The keep/drop decision for a row never
    changes when the rate of a *different* stratum changes, so mixture
    re-weighting re-runs touch only the strata that moved.

    Scale: the rates map is a handful of literals folded into one CASE
    expression (no join, no broadcast, no shuffle). For thousands of
    strata, switch to a broadcast join against a rates DataFrame; for
    the usual dozens of sources, the expression is cheaper.
    """
    rate = F.lit(float(default_rate))
    expr = None
    for k in sorted(rates):
        cond = F.col(strata_col) == F.lit(k)
        v = F.lit(float(rates[k]))
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    rate = expr.otherwise(rate) if expr is not None else rate
    return df.where(hash_uniform(F.col(id_col), seed) < rate)


def global_shuffle_rank(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int | str = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Seeded global permutation: every row gets ``shuffle_rank`` —
    its 1-based position in the total order by ``md5(seed, id)``.

    The naive plan (``row_number() OVER (ORDER BY key)``) collapses the
    whole corpus into ONE window partition — a non-starter at 100 TB.
    This uses the classic two-pass range plan, with the range bucket
    COMPUTED from the key rather than sampled:

      1. bucket ``_pid = floor(u * n)`` where ``u`` is the key's
         leading-32-bit uniform value — md5 is uniform, so buckets are
         balanced (±√ fluctuations) AND each bucket is a contiguous key
         range by construction; local ranks via a window partitioned by
         ``_pid``;
      2. per-bucket row counts (a tiny ``n_partitions``-row aggregate)
         → cumulative offsets, broadcast-joined back on ``_pid``.

    global_rank = offset[pid] + local_rank. Cost: one hash shuffle of
    the data for the per-bucket window, plus a num_partitions-row
    offset cumsum broadcast back. Ties (md5 collisions) break on the id
    itself, so the permutation is a total order.

    Why a computed bucket and NOT ``repartitionByRange`` +
    ``spark_partition_id()``: the range partitioner picks boundaries by
    reservoir sampling whose seed involves the RDD id, so two range
    exchanges — separate jobs, OR the count/rank branches of one plan
    whenever anything (column pruning, disabled
    ``spark.sql.exchange.reuse``) stops Catalyst from deduplicating the
    two subtrees — can measure offsets on a DIFFERENT partitioning than
    the ranks, producing duplicate/missing ranks. That failure was
    observed in both forms: two-job at 5000 rows × 16 partitions, and
    single-plan the moment the input carried a payload column (pruning
    made the subtrees differ, defeating ReusedExchange). A bucket that
    is a pure function of the key cannot diverge between branches, no
    matter how Catalyst plans them; determinism needs no physical-plan
    cooperation. Guarded by the payload-column permutation test in
    tests/test_sampling.py.
    """
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # leading 8 hex chars = uniform 32-bit value; floor(u32 * n / 2^32)
    # in exact integer arithmetic (u32 * n < 2^63 for any sane n).
    # md5 hex strings are fixed-width lowercase, so lexicographic key
    # order == numeric order of the prefix: bucket id is monotone in the
    # key and each bucket holds a contiguous key range — the property
    # the offset construction needs.
    u32 = F.conv(F.substring(key, 1, 8), 16, 10).cast("long")
    keyed = df.withColumn("_shuffle_key", key).withColumn(
        "_pid", F.floor(u32 * F.lit(int(n)) / F.lit(2**32)).cast("int")
    )
    counts = keyed.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    w_off = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off"),
    )
    w = Window.partitionBy("_pid").orderBy("_shuffle_key", id_col)
    return (
        keyed.withColumn("_lr", F.row_number().over(w))
        .join(F.broadcast(offsets), on="_pid")
        .withColumn("shuffle_rank", (F.col("_lr") + F.col("_off")).cast("long"))
        .drop("_shuffle_key", "_pid", "_lr", "_off")
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    group_col: str = "source",
    order_col: str = "doc_id",
    id_col: str = "doc_id",
    token_col: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Concat-then-chunk sequence packing: within each ``group_col``
    stream, documents are concatenated in ``order_col`` order and the
    token stream is cut every ``budget`` tokens. Each document is
    assigned the pack (context window) where it *starts*:

        start   = running_total - n_tokens     (tokens before this doc)
        pack_id = floor(start / budget)
        offset_in_pack = start % budget

    This is the batching scheme GPT-style pretraining actually uses
    (concatenate + chunk, documents may straddle chunk boundaries) —
    not bin packing, which is neither streaming nor order-stable.

    Scale: one window cumsum per group. Groups are corpus sources
    (dozens to thousands) — each window partition is a source's
    documents, which is the same per-source skew any per-source
    aggregate has; for a single gigantic source, pre-split it into
    ``(source, shard)`` groups upstream. No Python, no second pass.

    ``token_col`` of None derives whitespace token counts from
    ``text_col`` (same expression as ``text.token_stats``).
    """
    if token_col is None:
        toks = F.when(
            F.length(F.trim(F.col(text_col))) == 0, 0
        ).otherwise(
            F.size(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        ).cast("long")
    else:
        toks = F.col(token_col).cast("long")
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(toks).over(w)
    start = running - toks
    return df.select(
        F.col(id_col),
        F.col(group_col),
        toks.alias("n_tokens"),
        F.floor(start / F.lit(int(budget))).cast("long").alias("pack_id"),
        (start % F.lit(int(budget))).cast("long").alias("offset_in_pack"),
    )


def pack_sequences_ffd(
    df: DataFrame,
    budget: int,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    token_col: str | None = None,
    text_col: str = "text",
    seed: int = 0,
    bucket_hash: str = "xxhash64",
) -> DataFrame:
    """Doc-preserving sequence packing via first-fit-decreasing bin
    packing — the complement of ``pack_sequences`` (concat-then-chunk):
    no document straddles a context-window boundary, at the cost of
    some padding waste (FFD is within 11/9·OPT + 1 bins per bucket).

    Bin packing is inherently sequential, so it is made deterministic
    AND parallel by hash-bucketing: ``bucket = xxhash64(id, seed) mod
    n_buckets`` (partition-layout independent), then FFD runs
    independently inside each bucket over (tokens desc, id asc) order.
    Global ``pack_id = bucket << 32 | bin`` — stable across cluster
    layouts and re-runs. Documents longer than ``budget`` get a
    dedicated bin and ``oversize = true`` (the caller decides whether
    to truncate or split upstream).

    Scale shape: only (id, n_tokens, bucket) rides the grouped map —
    never the text — and each bucket's doc count is ~corpus/n_buckets,
    so driver memory is never involved and skew is bounded by the hash.
    Raise ``n_buckets`` for larger corpora; packing quality is
    per-bucket so the waste bound is unchanged.

    ``bucket_hash`` picks the bucketing hash: ``"xxhash64"`` (default —
    fastest, JVM-native) or ``"md5"`` (:func:`hash_u32` mod n_buckets —
    engine-portable, so the WHOLE pipeline including the FFD loop
    replays in DuckDB as a recursive CTE; see Q111_SQL). Both are pure
    functions of the id: partition-layout independent either way.
    """
    if bucket_hash not in ("xxhash64", "md5"):
        raise ValueError(f"unknown bucket_hash {bucket_hash!r}")
    if token_col is None:
        toks = F.when(
            F.length(F.trim(F.col(text_col))) == 0, 0
        ).otherwise(
            F.size(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        ).cast("long")
    else:
        toks = F.col(token_col).cast("long")
    if bucket_hash == "xxhash64":
        bkt = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(n_buckets))
    else:
        bkt = F.pmod(hash_u32(F.col(id_col), seed), F.lit(n_buckets))
    slim = df.select(
        F.col(id_col),
        toks.alias("n_tokens"),
        bkt.cast("int").alias("bucket"),
    )

    from solar_data_tools_spark.parallel import grouped_apply

    def _ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", id_col], ascending=[False, True]
        ).reset_index(drop=True)
        bins: list[int] = []  # remaining capacity per bin
        assign = np.empty(len(pdf), dtype=np.int64)
        oversize = np.zeros(len(pdf), dtype=bool)
        for i, t in enumerate(pdf["n_tokens"].to_numpy()):
            if t > budget:
                assign[i] = len(bins)
                bins.append(0)  # dedicated, full
                oversize[i] = True
                continue
            for b, rem in enumerate(bins):
                if rem >= t:
                    assign[i] = b
                    bins[b] = rem - t
                    break
            else:
                assign[i] = len(bins)
                bins.append(budget - t)
        bucket = int(pdf["bucket"].iloc[0])
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "n_tokens": pdf["n_tokens"],
                "bucket": pdf["bucket"],
                "pack_id": (bucket << 32) | assign,
                "oversize": oversize,
            }
        )

    # grouped_apply, not groupBy().applyInPandas: plan-owned parallelism
    # on any session (AQE never coalesces a REPARTITION_BY_NUM shuffle)
    # and one Python round-trip per partition — the repo-wide grouped-map
    # convention (see parallel.py module docstring)
    return grouped_apply(
        slim,
        ["bucket"],
        _ffd,
        schema=f"{id_col} long, n_tokens long, bucket int, "
        "pack_id long, oversize boolean",
    )


def top_k_sample(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    seed: int | str = 0,
) -> DataFrame:
    """Exactly-k uniform sample without replacement: the k smallest
    seeded hash keys. Equivalent to a seeded random permutation's first
    k rows, but computed as ORDER BY + LIMIT — Spark plans it as
    TakeOrderedAndProject (per-partition top-k heaps + driver merge of
    k-row heads), so no global sort and no full shuffle ever happens.
    Deterministic and engine-portable like every operator here.
    """
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    return (
        df.withColumn("_sample_key", key)
        .orderBy("_sample_key", id_col)
        .limit(int(k))
        .drop("_sample_key")
    )


def with_ln_fp6(df: DataFrame, weight_col: str, out: str) -> DataFrame:
    """Append column ``out``: integer fixed-point ``ln(weight)`` at
    1e-6 ticks (LONG) for a POSITIVE integer weight column — the
    deterministic, engine-exact log that ``weighted_sample_without_
    replacement`` adds to its Gumbel noise.

    Reuses ``_ilog_fp_steps`` (``ln(w)*2^30 ~= k*LN2 + L``), then
    rescales to 1e-6 ticks in one truncating division. Non-positive or
    NULL weights raise at execution time: ln is undefined there, and a
    weighted sampler that silently zeroes part of the corpus is a data
    bug. Max weight 2^62 -> (k*LN2+L)*1e6 < 4.7e16, no LONG overflow.
    """
    keep = list(df.columns)
    df = df.withColumn(
        "_lnw_x",
        F.when(
            F.col(weight_col).isNull() | (F.col(weight_col) <= 0),
            F.raise_error(
                F.lit(
                    f"with_ln_fp6: non-positive {weight_col} — weights "
                    "must be positive integers"
                )
            ).cast("long"),
        ).otherwise(F.col(weight_col).cast("long")),
    )
    df = _ilog_fp_steps(df, "_lnw_x", "w")
    lnw = F.col("_kw").cast("long") * F.lit(_FP_LN2) + F.col("_lw")
    df = df.withColumn(
        out,
        F.call_function(
            "div", lnw * F.lit(1000000), F.lit(_FP_S).cast("long")
        ),
    )
    return df.select(*keep, out)


def weighted_sample_without_replacement(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int | str = "wswr",
) -> DataFrame:
    """Sample ``k`` rows WITHOUT replacement, proportionally to a
    positive integer weight, via the Gumbel-top-k trick:
    ``key = ln(w) + Gumbel(0,1)`` — distributionally identical to
    Efraimidis-Spirakis ``u^(1/w)`` reservoir sampling, but (unlike a
    reservoir) a pure function of (id, seed): deterministic,
    partitioning-invariant, replayable in any engine.

    The determinism contract is the q143 one — NO float enters the
    ranking key: ``key_fp = ln_fp6(w) + gumbel_fp6(hash_u32(id))`` is a
    LONG sum of two integer fixed-point terms, so the selected set and
    every certified column are exact integers (q171's oracle replays
    the whole draw in DuckDB).

    The top-k is a global ``ORDER BY key_fp LIMIT k`` — TakeOrdered
    (per-partition heaps + driver merge), no global sort shuffle; the
    noise generation is a per-row expression chain, so the operator is
    a single pass at any corpus size.

    Output: input columns + ``lnw_fp``, ``key_fp`` (LONG, 1e-6 ticks)
    and ``rank`` (1..k).
    """
    df = with_ln_fp6(df, weight_col, "lnw_fp")
    df = with_gumbel_fp6(df, hash_u32(F.col(id_col), seed), "_g6")
    ranked = (
        df.withColumn("key_fp", F.col("lnw_fp") + F.col("_g6"))
        .drop("_g6")
        .orderBy(F.desc("key_fp"), F.asc(id_col))
        .limit(int(k))
    )
    rw = Window.orderBy(F.desc("key_fp"), F.asc(id_col))
    return ranked.withColumn("rank", F.row_number().over(rw))


def stratified_top_k_sample(
    df: DataFrame,
    k: int,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int | str = 0,
) -> DataFrame:
    """Exactly-k uniform sample without replacement PER STRATUM: rank
    rows inside each stratum by the seeded md5 key and keep rank <= k —
    the per-domain counterpart of ``top_k_sample`` (global) and
    ``stratified_sample`` (per-stratum RATE, not exact count).

    Scale shape: one shuffle keyed by the stratum; rank is a window
    inside each stratum partition. Stratum skew is the usual per-source
    skew — for one gigantic stratum, pre-shard to (stratum, shard) and
    take k/shards per shard. Deterministic and engine-portable: the
    DuckDB oracle replays the same md5 ranking (q112).
    """
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy(key, F.col(id_col))
    return (
        df.withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= int(k))
        .drop("_rank")
    )


def split_assign(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: int | str = 0,
) -> DataFrame:
    """Weighted multi-way split (train/val/test): each row gets the
    split label whose cumulative-weight interval contains its seeded
    U[0,1) hash. Weights need not sum to 1 — they are normalized.
    Splits are stable under corpus growth: adding documents never moves
    an existing document to a different split.

    Scale: one hash + one CASE expression per row; no shuffle.
    """
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    u = hash_uniform(F.col(id_col), seed)
    expr = None
    acc = 0.0
    items = sorted(weights.items())
    for name, w in items[:-1]:
        acc += float(w) / total
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    split = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", split)


def leakage_safe_split(
    docs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int | str = 0,
) -> DataFrame:
    """Train/val/test split with *duplicate-leakage* protection: the
    split is decided by the hash of each document's exact-duplicate
    GROUP (its canonical representative = min id over identical
    normalized text), so copies of the same document can never straddle
    train and test — the standard contamination guard in pretraining
    eval hygiene.

    Plan: one groupBy on a fixed-width hash of the normalized text (the
    same shuffle shape as exact dedup) + one hash-key aggregate join
    back; the split decision itself adds no shuffle. Near-duplicate
    (MinHash/Jaccard) grouping can be slotted in by substituting the
    group key — exact groups are the deterministic, oracle-checkable
    core.
    """
    from solar_data_tools_spark.operators.dedup import normalize_text

    keyed = docs.select(
        F.col(id_col),
        F.xxhash64(normalize_text(F.col(text_col))).alias("_grp"),
    )
    reps = keyed.groupBy("_grp").agg(F.min(id_col).alias("_rep_id"))
    labeled = split_assign(
        reps.select("_grp", F.col("_rep_id").alias(id_col)),
        weights,
        id_col=id_col,
        seed=seed,
    ).select("_grp", "split")
    return (
        keyed.join(labeled, on="_grp")
        .select(F.col(id_col), "split")
    )


def budget_mix(
    docs: DataFrame,
    token_budgets: dict[str, float],
    default_budget: float | None = None,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int | str = 0,
) -> DataFrame:
    """Token-budget domain mixing: sample each stratum DOWN to a target
    token budget computed from the corpus itself.

    Two passes, both distributed: (1) per-stratum token totals (one
    map-side-combined agg producing a strata-sized table); (2) keep rate
    ``min(1, budget/total)`` per stratum, broadcast back, and the same
    partitioning-invariant md5 keep/drop rule as :func:`hash_sample` —
    so the realized token count concentrates on the budget (exact in
    expectation; binomial concentration at corpus scale) and the kept
    set is reproducible across engines and re-runs.

    ``token_budgets`` maps stratum → target token count; strata absent
    from the map keep everything (``default_budget=None``) or are
    budgeted at ``default_budget``. Tokens are whitespace tokens of the
    normalized text (identical to the DuckDB oracle in q106).

    Returns the kept rows as (id, stratum, n_tokens, rate).
    """
    from solar_data_tools_spark.operators.dedup import normalize_text

    per_doc = docs.select(
        F.col(id_col),
        F.col(strata_col),
        F.size(F.split(normalize_text(F.col(text_col)), " "))
        .cast("long")
        .alias("n_tokens"),
    )
    totals = per_doc.groupBy(strata_col).agg(
        F.sum("n_tokens").alias("_total")
    )
    budget_map = F.create_map(
        *[
            lit
            for k, v in token_budgets.items()
            for lit in (F.lit(k), F.lit(float(v)))
        ]
    )
    budget = F.element_at(budget_map, F.col(strata_col))
    if default_budget is not None:
        budget = F.coalesce(budget, F.lit(float(default_budget)))
    rate = F.when(
        budget.isNull() | (F.col("_total") <= 0), F.lit(1.0)
    ).otherwise(F.least(F.lit(1.0), budget / F.col("_total")))
    rates = totals.select(F.col(strata_col), rate.alias("rate"))
    return (
        per_doc.join(F.broadcast(rates), strata_col)
        .where(hash_uniform(F.col(id_col), seed) < F.col("rate"))
        .select(id_col, strata_col, "n_tokens", "rate")
    )


def temperature_sample(
    docs: DataFrame,
    alpha: float = 0.3,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    seed: int | str = 0,
    round_digits: int = 6,
) -> DataFrame:
    """Temperature-based stratum rebalancing (the mT5/XLM-R multilingual
    mixing rule, Xue et al. 2021 / Conneau et al. 2020): resample so the
    kept distribution follows ``p_i^alpha`` (renormalized) instead of
    the raw corpus share ``p_i`` — alpha < 1 upweights small strata.

    To realize ``kept_i ∝ p_i^alpha`` with a pure keep/drop filter, each
    stratum keeps with rate ``(c_i / c_min)^(alpha-1)`` — 1.0 for the
    smallest stratum, decreasing in size (no stratum can be sampled UP
    by a filter). Two passes: stratum counts (a strata-sized table),
    then the partitioning-invariant md5 keep rule. Rates are fixed-point
    rounded so the keep decision — hence the exact kept SET — is
    engine-portable (q150's oracle replays it).

    Returns (id, stratum, rate, kept) for every input row.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    # NULL strata form their own stratum rather than silently vanishing
    # through the inner join (null keys never equi-join): key on a
    # sentinel, emit the original value
    d = docs.select(
        F.col(id_col),
        F.col(strata_col).alias("_orig"),
        F.coalesce(F.col(strata_col).cast("string"), F.lit("\x00null"))
        .alias("_st"),
    )
    counts = d.groupBy("_st").agg(F.count(F.lit(1)).alias("_c"))
    cmin = counts.agg(F.min("_c").alias("_cmin"))
    p = F.lit(float(10 ** round_digits))
    rates = counts.crossJoin(F.broadcast(cmin)).select(
        "_st",
        (
            F.floor(
                F.pow(
                    F.col("_c").cast("double") / F.col("_cmin"),
                    F.lit(alpha - 1.0),
                )
                * p
                + F.lit(0.5)
            )
            / p
        ).alias("rate"),
    )
    u = hash_uniform(F.col(id_col), seed)
    return (
        d.join(F.broadcast(rates), "_st")
        .select(
            F.col(id_col),
            F.col("_orig").alias(strata_col),
            "rate",
            (u < F.col("rate")).alias("kept"),
        )
    )


def weighted_shuffle_rank(
    docs: DataFrame,
    weights: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int | str = 0,
    default_weight: float = 1.0,
    round_digits: int = 6,
) -> DataFrame:
    """Deterministic WEIGHTED global shuffle (Efraimidis & Spirakis
    2006, "Weighted random sampling with a reservoir"): every row gets
    key ``u^(1/w)`` with ``u = md5-uniform(id)`` and ``w`` its stratum
    weight; descending key order is a weighted random permutation —
    any prefix is a without-replacement weighted sample, which is what
    a data-mixing schedule needs ("interleave sources at these ratios,
    reproducibly, with a resumable global order").

    The key is fixed-point rounded (ties then break on id) so the
    ORDER — not just the set — is engine-portable and partitioning-
    invariant; the q152 oracle replays the full permutation. Weight
    lookup is a broadcast of a strata-sized table; ranking reuses
    :func:`global_shuffle_rank`'s computed-bucket two-pass plan (the
    bucket is a pure function of the key, so the offset and rank
    branches cannot diverge) — NO single-partition global window.
    Buckets are contiguous key ranges; they're only as balanced as the
    key distribution (u^(1/w) skews toward 1 for heavy strata), which
    bounds per-bucket size by the stratum mix rather than the corpus.

    Output: input columns + (w, key, rank) with rank 1 = first in the
    training stream.
    """
    if any(w <= 0 for w in weights.values()) or default_weight <= 0:
        raise ValueError("weights must be positive")
    spark = docs.sparkSession
    wdf = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(weights.items())],
        schema=f"{strata_col} string, w double",
    )
    u = hash_uniform(F.col(id_col), seed)
    u = F.least(F.greatest(u, F.lit(1e-12)), F.lit(1.0 - 1e-12))
    p = F.lit(float(10 ** round_digits))
    keyed = (
        docs.join(F.broadcast(wdf), strata_col, "left")
        .withColumn("w", F.coalesce(F.col("w"), F.lit(float(default_weight))))
        .withColumn(
            "key",
            F.floor(F.pow(u, F.lit(1.0) / F.col("w")) * p + F.lit(0.5)) / p,
        )
    )
    n = docs.sparkSession.sparkContext.defaultParallelism
    keyed = keyed.withColumn(
        "_pid",
        F.least(
            F.floor((F.lit(1.0) - F.col("key")) * F.lit(int(n))),
            F.lit(int(n) - 1),
        ).cast("int"),
    )
    counts = keyed.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off"),
    )
    w_loc = Window.partitionBy("_pid").orderBy(
        F.desc("key"), F.asc(id_col)
    )
    return (
        keyed.withColumn("_lr", F.row_number().over(w_loc))
        .join(F.broadcast(offsets), on="_pid")
        .withColumn("rank", (F.col("_lr") + F.col("_off")).cast("long"))
        .drop("_pid", "_lr", "_off")
    )


def epoch_mix(
    docs: DataFrame,
    repeat_factors: dict[str, float],
    default_factor: float = 1.0,
    strata_col: str = "source",
    id_col: str = "doc_id",
    seed: int | str = 0,
) -> DataFrame:
    """Epoch-aware dataset mixing by REPETITION FACTOR — the "how many
    epochs of each subset" knob of a pretraining mix (e.g. Wikipedia
    x2.4, books x1.0, web x0.3): a document whose stratum has factor w
    appears ``floor(w)`` times, plus one more when its seeded U[0,1)
    hash falls below ``frac(w)``. Factors < 1 therefore subsample
    (doc kept with probability w); factors > 1 upsample with an
    ``epoch`` counter (1..n) so downstream shuffles/packing can
    interleave copies.

    Deterministic, partitioning-invariant, engine-portable (the md5
    hash rule of the other samplers): in expectation every stratum
    contributes exactly ``w * |stratum|`` rows, and each individual
    document's copy count is a pure function of (id, seed).

    Scale shape: one broadcast-ready CASE on the factor + one
    row-local ``explode(sequence(...))`` — zero shuffle, stream-legal.
    ``sequence(1, 0)`` DESCENDS in Spark, so the zero-copy case is
    guarded with an empty-array branch.

    Output: input columns + ``epoch`` (1-based copy index).
    """
    frac = {k: float(v) for k, v in repeat_factors.items()}
    expr = F.lit(float(default_factor))
    for k, v in sorted(frac.items()):
        expr = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(expr)
    u = hash_uniform(F.col(id_col), seed)
    n = (
        F.floor(expr).cast("int")
        + (u < (expr - F.floor(expr))).cast("int")
    )
    copies = F.when(
        n >= 1, F.expr(f"sequence(1, {'_n_copies'})")
    ).otherwise(F.expr("cast(array() as array<int>)"))
    return (
        docs.withColumn("_n_copies", n)
        .withColumn("epoch", F.explode(copies))
        .drop("_n_copies")
    )


def token_budget_cut(
    docs: DataFrame,
    budget: int,
    quality_col: str,
    n_tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    seed: int | str = 0,
    sub_buckets: int = 256,
) -> DataFrame:
    """Exact token-budget corpus cut — the final step of building a
    pretraining mix: walk documents in (quality DESC, seeded-hash, id)
    order and keep every doc whose INCLUSIVE cumulative token count
    stays within ``budget``. The hash randomizes within equal-quality
    ties so the cut is an unbiased sample of the boundary stratum, and
    the whole selection is a pure function of (ids, seed) —
    deterministic, partitioning-invariant, engine-replayable.

    Scale shape (the reason this is not "one global window"): a naive
    cumulative sum over the corpus order moves EVERYTHING to one
    partition. Instead:

    1. per-quality-value totals → a bucket table bounded by
       |distinct quality values|; its cumulative sum is a window over
       that SMALL table only. Buckets whose cumulative total fits are
       kept whole; exactly one bucket straddles the budget.
    2. the straddling bucket's docs hash into ``sub_buckets`` ordered
       ranges of the tie-break key; their totals cumsum the same way;
       full sub-buckets are kept whole.
    3. only the one straddling SUB-bucket (~1/sub_buckets of one
       quality stratum) pays a single-partition running sum.

    NULL quality is rejected at execution time: a NULL would form its
    own groupBy bucket but never match the non-null-safe semi/inner
    joins below, so those docs would be silently neither kept nor
    counted against the budget. A corpus cut that silently ignores part
    of the corpus is a data bug, not a policy — impute or filter
    explicitly before calling.

    Output: the kept docs with their original columns.
    """
    u = hash_uniform(F.col(id_col), seed)
    d = docs.withColumn(
        quality_col,
        F.when(
            F.col(quality_col).isNull(),
            F.raise_error(
                F.lit(
                    f"token_budget_cut: NULL {quality_col} — filter or "
                    "impute quality before the budget cut"
                )
            ),
        ).otherwise(F.col(quality_col)),
    ).withColumn("_u", u)
    q = F.col(quality_col)

    # ---- level 1: per-quality buckets (small table)
    b = d.groupBy(quality_col).agg(F.sum(n_tokens_col).alias("_bt"))
    wq = Window.orderBy(F.desc(quality_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    b = b.withColumn("_cum", F.sum("_bt").over(wq)).withColumn(
        "_before", F.col("_cum") - F.col("_bt")
    )
    full_q = b.where(F.col("_cum") <= budget).select(quality_col)
    straddle = b.where(
        (F.col("_before") < budget) & (F.col("_cum") > budget)
    ).select(quality_col, F.col("_before"))
    kept_full = d.join(F.broadcast(full_q), quality_col, "left_semi")

    # ---- level 2: sub-buckets of the straddling stratum by hash range
    sb = (
        d.join(F.broadcast(straddle), quality_col)
        .withColumn(
            "_sb", F.floor(F.col("_u") * F.lit(int(sub_buckets))).cast("int")
        )
    )
    sbt = sb.groupBy("_sb").agg(F.sum(n_tokens_col).alias("_sbt"))
    wsb = Window.orderBy(F.asc("_sb")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sbt = (
        sbt.crossJoin(F.broadcast(straddle.select("_before")))
        .withColumn("_scum", F.sum("_sbt").over(wsb))
        .withColumn("_sbefore", F.col("_scum") - F.col("_sbt"))
    )
    full_sb = sbt.where(
        F.col("_before") + F.col("_scum") <= budget
    ).select("_sb")
    straddle_sb = sbt.where(
        (F.col("_before") + F.col("_sbefore") < budget)
        & (F.col("_before") + F.col("_scum") > budget)
    ).select("_sb", (F.col("_before") + F.col("_sbefore")).alias("_sb0"))
    kept_sb = sb.join(F.broadcast(full_sb), "_sb", "left_semi")

    # ---- level 3: exact running sum inside the ONE straddling
    # sub-bucket (the only single-partition window, provably
    # ~1/sub_buckets of one quality stratum)
    tail = sb.join(F.broadcast(straddle_sb), "_sb")
    wt = Window.orderBy(F.asc("_u"), F.asc(id_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    kept_tail = tail.withColumn(
        "_rcum", F.col("_sb0") + F.sum(n_tokens_col).over(wt)
    ).where(F.col("_rcum") <= budget)

    cols = docs.columns
    return (
        kept_full.select(*cols)
        .unionByName(kept_sb.select(*cols))
        .unionByName(kept_tail.select(*cols))
    )

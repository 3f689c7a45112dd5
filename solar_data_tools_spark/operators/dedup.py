"""Deduplication operators for large-scale document corpora.

North-star extensions beyond the reference surface (BASELINE.json): exact
dedup, n-gram Jaccard, MinHash+LSH, SimHash. All shuffle-conscious:

* exact dedup — one hash-groupBy, no pairwise work;
* n-gram Jaccard — inverted-index self-join on shingles (pairs only form
  where a shingle is shared), the standard way to avoid the O(N^2) cross
  join;
* MinHash+LSH — signatures via built-in ``xxhash64`` (JVM-side), banding
  reduces candidate pairs to hash-bucket collisions;
* SimHash — 64 aggregated bit-counts per doc, Hamming-distance candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solar_data_tools_spark.operators.canonical import pround


# Mersenne prime for the md5_u31 universal-hash MinHash family: the
# modulus of h_i = (a_i*x0 + b_i*x1 + c_i) mod _P31 over two 28-bit md5
# slices. 2^31-1 keeps every product under 2^59 (LONG-safe in Spark and
# DuckDB alike).
_P31 = (1 << 31) - 1


def md5_u31_constants(num_hashes: int) -> list[tuple[int, int, int]]:
    """The (a_i, b_i, c_i) permutation constants of the md5_u31 family —
    seeded and shared verbatim by the Spark builder and the DuckDB
    oracle generator (registry _q47_sql)."""
    import random as _random

    rng = _random.Random(9)
    return [
        (
            rng.randrange(1, _P31),
            rng.randrange(1, _P31),
            rng.randrange(0, _P31),
        )
        for _ in range(num_hashes)
    ]


def normalize_text(col):
    """Lowercase, collapse whitespace — shared normalization for all dedup
    paths so variants of the same doc hash identically."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    member_cap: int = 1000,
) -> DataFrame:
    """Exact dedup via md5(normalized text) group-by.

    Returns one row per duplicate *group* (>= 2 docs): the canonical doc
    (lowest id), the EXACT group size, and up to ``member_cap`` member
    ids (lowest first).

    Scale note: a pathological group — billions of empty or boilerplate
    documents hashing identically — must not concentrate every member id
    in one aggregation buffer. Members are rank-limited with a window
    (sort-based, disk-spillable) BEFORE the collect_list, so the buffer
    is bounded by ``member_cap`` while counts stay exact; the window and
    the groupBy share one hash partitioning on text_hash.
    """
    from pyspark.sql import Window

    h = F.md5(normalize_text(F.col(text_col))).alias("text_hash")
    w = Window.partitionBy("text_hash").orderBy(F.asc(id_col))
    ranked = docs.select(F.col(id_col), h).withColumn(
        "_rn", F.row_number().over(w)
    )
    return (
        ranked.groupBy("text_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("group_size"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= member_cap, F.col(id_col))
                )
            ).alias("member_ids"),
        )
        .where(F.col("group_size") >= 2)
    )


def word_ngrams(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Explode each doc into its distinct word n-gram shingles.

    Pure built-ins: split -> transform(sequence) -> explode. Output:
    (doc_id, [carry_cols...], shingle), distinct per doc.
    """
    carry = carry_cols or []
    tokens = F.split(normalize_text(F.col(text_col)), " ")
    grams = F.expr(
        f"transform(sequence(1, greatest(size({'_toks'}) - {n - 1}, 0)), "
        f"i -> concat_ws(' ', slice(_toks, i, {n})))"
    )
    return (
        docs.select(F.col(id_col), *[F.col(c) for c in carry], tokens.alias("_toks"))
        .where(F.size("_toks") >= n)
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry],
            F.explode(F.array_distinct(grams)).alias("shingle"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = None,
    block_cols: list[str] | None = None,
    hash_shingles: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs via inverted-index join.

    jaccard(a, b) = |A ∩ B| / (|A| + |B| - |A ∩ B|) over distinct shingles.

    Scale notes: candidate pairs only materialize for docs sharing a
    shingle. Two standard bounds on the worst-case (all-pairs-similar)
    fan-out, both exact w.r.t. their documented semantics:

    * ``max_shingle_freq`` — drop ultra-common shingles (stop-gram
      suppression);
    * ``block_cols`` — compare only docs sharing a blocking key (lang,
      source, length bucket, ...). Production dedup at 100 TB always
      blocks: it turns one quadratic join into many small independent
      ones, and the blocking key rides the same shuffle as the shingle.
    """
    blocks = block_cols or []
    # no .cache(): shingling is a cheap projection recomputed per branch;
    # session-lifetime caches accumulate across invocations and make join
    # timing depend on eviction pressure (at 100 TB, checkpoint explicitly)
    sh = word_ngrams(docs, n, id_col, text_col, carry_cols=blocks)
    if hash_shingles:
        # shuffle fixed-width 8-byte keys, not n-word strings: the
        # inverted-index self-join moves every posting twice, so replacing
        # a ~20-40 byte shingle with xxhash64 cuts shuffled bytes several-
        # fold at corpus scale (same pattern as exact_duplicates' group
        # key). Set sizes stay exact: a collision would need two distinct
        # shingles of the SAME document pair at p≈2^-64 per pair.
        sh = sh.withColumn("shingle", F.xxhash64("shingle"))

    posting = sh
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        posting = sh.join(
            freq.where(F.col("df") <= max_shingle_freq).select("shingle"),
            on="shingle",
            how="left_semi",
        )
        # sizes from the POSTING list, not the raw shingles: with
        # stop-gram suppression active, |A| and |B| must count the same
        # filtered shingle space as |A n B| or the Jaccard denominator
        # is inflated and similarity systematically underestimated for
        # stop-gram-heavy docs.
        sizes = posting.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    else:
        # unfiltered posting space: |A| is a ROW-LOCAL expression —
        # size(array_distinct(grams)) per doc — so don't re-explode and
        # shuffle the whole posting list twice just to count it (the
        # explode is the most expensive projection in this plan; the
        # naive sizes aggregate doubled total Generate work)
        tokens = F.split(normalize_text(F.col(text_col)), " ")
        grams = F.expr(
            f"transform(sequence(1, greatest(size(_toks) - {n - 1}, 0)), "
            f"i -> concat_ws(' ', slice(_toks, i, {n})))"
        )
        sizes = (
            docs.select(F.col(id_col), tokens.alias("_toks"))
            .where(F.size("_toks") >= n)
            .select(
                F.col(id_col),
                F.size(F.array_distinct(grams)).alias("n_shingles"),
            )
        )

    join_keys = ["shingle", *blocks]
    # explicit repartition on the join keys BEFORE aliasing the two
    # sides: both sides of the self-join then share one identical
    # shuffle subplan, so the exploded posting is computed and shuffled
    # ONCE (exchange reuse) instead of once per side — measured ~2x on
    # the whole query. Without this, Catalyst plans each aliased side
    # independently (and at small scale broadcasts one full posting).
    posting = posting.repartition(*[F.col(c) for c in join_keys])
    a = posting.select(F.col(id_col).alias("id_a"), *join_keys)
    b = posting.select(F.col(id_col).alias("id_b"), *join_keys)
    common = (
        # MERGE pin (r13): same rationale as minhash_lsh_candidates —
        # without it AQE broadcast-converts this self-join at small
        # scale, which re-runs the posting explode to BUILD the
        # broadcast instead of reading the shared repartition exchange
        # (plan-verified: the Generate subtree appeared under a
        # BroadcastExchange), and a giant posting bucket would build an
        # in-memory hash relation instead of spilling a sort. Measured
        # sf0.1 interleaved: 2.28 -> 2.01 s median.
        a.hint("merge")
        .join(b, on=join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    # NO broadcast hint on `sizes`: it is per-DOCUMENT cardinality (one row
    # per doc), so at 10^8-10^9 docs a forced broadcast pins tens of GB on
    # the driver and every executor. Left as plain equi-joins: the candidate
    # side is already shuffled on id_a/id_b, and AQE broadcast-converts the
    # sizes build side automatically when it measures small — the right
    # physical choice at every scale without hard-coding the 100 TB-unsafe
    # one (plan-audited: test_q45_sizes_join_not_forced_broadcast).
    out = (
        common.join(
            sizes.selectExpr(f"{id_col} as id_a", "n_shingles as n_a"),
            on="id_a",
        )
        .join(
            sizes.selectExpr(f"{id_col} as id_b", "n_shingles as n_b"),
            on="id_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )
    return out


_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _np_xxh64_long(value, seed):
    """Vectorized xxHash64 of ONE 8-byte little-endian long — verified
    bit-identical to Spark's ``xxhash64(longCol)`` (seed 42) and, when
    ``seed`` carries a previous hash, to Spark's multi-column chaining."""
    import numpy as np

    P1, P2 = np.uint64(_XXH_P1), np.uint64(_XXH_P2)
    P3, P4, P5 = np.uint64(_XXH_P3), np.uint64(_XXH_P4), np.uint64(_XXH_P5)
    v = value.astype(np.uint64)
    s = seed if hasattr(seed, "dtype") else np.uint64(seed)
    # uint64 wraparound is the algorithm; scope the suppression so the
    # process-global numpy error state of the shared worker is untouched
    with np.errstate(over="ignore"):
        h = s + P5 + np.uint64(8)
        k = v * P2
        k = (k << np.uint64(31)) | (k >> np.uint64(33))
        k = k * P1
        h = h ^ k
        h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * P1 + P4
        h = h ^ (h >> np.uint64(33))
        h = h * P2
        h = h ^ (h >> np.uint64(29))
        h = h * P3
        h = h ^ (h >> np.uint64(32))
    return h


def _np_xxh64_int(value, seed):
    """Vectorized xxHash64 of one 4-byte int (the path Spark uses for an
    IntegerType column chained after a previous hash)."""
    import numpy as np

    P1, P2 = np.uint64(_XXH_P1), np.uint64(_XXH_P2)
    P3, P5 = np.uint64(_XXH_P3), np.uint64(_XXH_P5)
    v = np.uint64(value) & np.uint64(0xFFFFFFFF)
    with np.errstate(over="ignore"):
        h = seed + P5 + np.uint64(4)
        h = h ^ (v * P1)
        h = ((h << np.uint64(23)) | (h >> np.uint64(41))) * P2 + P3
        h = h ^ (h >> np.uint64(33))
        h = h * P2
        h = h ^ (h >> np.uint64(29))
        h = h * P3
        h = h ^ (h >> np.uint64(32))
    return h


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: list[str] | None = None,
    token_hash: str = "xxhash64",
    sig_engine: str = "agg",
) -> DataFrame:
    """MinHash signature per doc: sig[i] = min over shingles of
    hash(shingle, i).

    Three physical shapes, IDENTICAL output values (parity-tested):

    * ``sig_engine="agg"`` (default) — ``num_hashes`` STATIC ``min()``
      aggregates over exploded hashed shingles (the q96 oracle's own
      formulation; every expression whole-stage codegen, map-side-
      combined partial mins, so the one shuffle carries k longs per doc
      per task). The history is a measured lesson: the original
      ``transform(0..k-1, i -> array_min(...))`` HOF fold looked like
      "one codegen projection" but lambdas are CodegenFallback and run
      INTERPRETED — 54 s at the 1M-doc probe vs 24 s for this shape.
    * ``token_hash="xxhash64", sig_engine="pandas"`` — an Arrow-batched
      kernel: shingles pre-hash to longs in codegen, then a vectorized
      numpy xxHash64 (verified BIT-IDENTICAL to Spark's single-stripe
      long path + chained int path) computes all permutations with
      ``np.minimum.reduceat`` per-doc minima. Measured 31 s at 1M docs
      — the JVM codegen hash beats numpy here, so this engine exists
      for wide-signature regimes (num_hashes >= ~256, where the agg
      shape's per-row buffer count bites) and as the executable proof
      that the hash family is engine-portable.
    * ``token_hash="md5_60"`` (implies the agg shape) — low 60 bits of
      ``md5(i || ':' || shingle)`` per permutation: slower, but
      bit-identical in DuckDB, making the whole signature exactly
      oracle-checkable (q96).
    * ``token_hash="md5_u31"`` (implies the agg shape) — 2-universal
      integer permutations mod 2^31-1 over two 28-bit slices of ONE
      md5 per shingle: bit-identical in DuckDB like md5_60 but at the
      xxhash64 family's speed (1 md5 + 2 conv + k codegen int ops vs
      k md5+conv) — the round-9 family of the certified near-dup
      pipeline (q47).
    """
    if num_hashes < 1:
        # ADVICE r13: the SQL-string aggregate assembled below would
        # silently produce empty array<void> signatures at num_hashes=0
        # (where the old *[] agg list raised), and every downstream
        # size(signature)==num_hashes guard would then pass vacuously.
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    carry = carry_cols or []
    tokens = F.split(normalize_text(F.col(text_col)), " ")
    grams = F.expr(
        f"transform(sequence(1, greatest(size(_toks) - {n - 1}, 0)), "
        f"i -> concat_ws(' ', slice(_toks, i, {n})))"
    )
    n_parts = max(
        docs.sparkSession.sparkContext.defaultParallelism * 2, 1
    )
    per_doc = (
        docs.select(
            F.col(id_col), *[F.col(c) for c in carry], tokens.alias("_toks")
        )
        .where(F.size("_toks") >= n)
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry],
            F.array_distinct(grams).alias("_grams"),
        )
        # explicit repartition of the COMPACT doc rows (the pre-explode
        # side, so the shuffle moves ~1x the corpus text): the min-agg
        # below is then partition-local (already hash-partitioned on
        # the group key, no second exchange), its output keeps n_parts
        # partitions for the downstream band-explode join (AQE never
        # coalesces REPARTITION_BY_NUM), and the k-hash CPU spreads
        # across cores even from a single parquet split
        .repartition(n_parts, F.col(id_col))
    )
    if token_hash == "xxhash64" and sig_engine == "pandas":
        import numpy as np
        import pandas as pd

        from solar_data_tools_spark.shipping import (
            ensure_package_on_executors,
        )

        # the kernel references module-level hash helpers -> workers
        # must import this package; ship BEFORE building the closure
        ensure_package_on_executors(docs.sparkSession)

        def _sigs(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                lens = np.array([len(g) for g in pdf["_h"]])
                flat = np.concatenate(
                    [np.asarray(g, dtype=np.int64) for g in pdf["_h"]]
                )
                offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
                h1 = _np_xxh64_long(flat, np.uint64(42))
                sigs = np.empty((len(pdf), num_hashes), dtype=np.int64)
                for i in range(num_hashes):
                    hi = _np_xxh64_int(i, h1).astype(np.int64)
                    sigs[:, i] = np.minimum.reduceat(hi, offs)
                out = {"_id": pdf["_id"].to_numpy()}
                for c in carry:
                    out[c] = pdf[c]
                out["signature"] = [list(map(int, s)) for s in sigs]
                yield pd.DataFrame(out)

        prepared = per_doc.select(
            F.col(id_col).alias("_id"),
            *[F.col(c) for c in carry],
            F.expr("transform(_grams, s -> xxhash64(s))").alias("_h"),
        )
        dtypes = dict(docs.select(id_col, *carry).dtypes)
        carry_schema = "".join(f", {c} {dtypes[c]}" for c in carry)
        out = prepared.mapInPandas(
            _sigs,
            schema=(
                f"_id {dtypes[id_col]}{carry_schema}, "
                "signature array<bigint>"
            ),
        )
        return out.select(
            F.col("_id").alias(id_col),
            *[F.col(c) for c in carry],
            "signature",
        )
    if sig_engine not in ("pandas", "agg"):
        raise ValueError(f"unknown sig_engine {sig_engine!r}")
    if token_hash == "xxhash64":
        exploded = per_doc.select(
            F.col(id_col),
            *[F.col(c) for c in carry],
            F.explode(
                F.expr("transform(_grams, s -> xxhash64(s))")
            ).alias("_s"),
        )
        # r13: the min-agg expressions are assembled as ONE SQL string
        # (parsed JVM-side in a single py4j round trip) instead of
        # num_hashes Column chains — each F.min(F.xxhash64(...)) built
        # ~8 py4j driver round trips, and at 64 hashes the chatter
        # dominated the PLAN BUILD wall (profiled: ~2.2 s of q182's
        # warm 4.9 s was this list comprehension alone). The parsed
        # tree is identical (same functions, same int literals), so
        # codegen, partial aggregation, and values are unchanged
        # (parity-tested; q47/q96/q182-family oracles green).
        agg_sqls = [
            f"min(xxhash64(_s, {i}))" for i in range(num_hashes)
        ]
    elif token_hash == "md5_60":
        exploded = per_doc.select(
            F.col(id_col),
            *[F.col(c) for c in carry],
            F.explode(F.col("_grams")).alias("_s"),
        )
        agg_sqls = [
            f"min(cast(conv(substring(md5(concat('{i}:', _s)), 1, 15), "
            "16, 10) as bigint))"
            for i in range(num_hashes)
        ]
    elif token_hash == "md5_u31":
        # Universal-hash family over a portable md5 base (round 9): ONE
        # md5 per shingle yields two independent 28-bit slices (hex
        # chars 1..7 and 9..15); permutation i is the 2-universal hash
        #     h_i = (a_i*x0 + b_i*x1 + c_i) mod (2^31 - 1)
        # with fixed pseudo-random constants (seeded, engine-shared).
        # Every product stays under 2^59 (LONG-safe), the mod wrap
        # scrambles the ordering per permutation (a wrap-free
        # Kirsch-Mitzenmacher x0+i*x1 variant was tried and rejected:
        # adjacent permutations shared argmins and the banded join blew
        # up), and — measured at sf0.1 — the per-shingle cost drops
        # from 64 md5+conv (md5_60, ~5.2 s sig stage) to 1 md5 + 2 conv
        # + 64 codegen int ops (~1.7 s, at the 64x-xxhash64 family's
        # speed) while staying bit-replayable in DuckDB SQL (q47's
        # oracle). Two distinct shingles only alias if BOTH 28-bit
        # slices collide (p ~ 2^-56 per pair), and the downstream
        # verify stage recomputes exact Jaccard regardless.
        consts = md5_u31_constants(num_hashes)
        # md5 INSIDE the transform, before the explode: Generate over
        # the hashed array keeps the whole stage in the fast path
        # (exploding the raw string array measured ~6x slower at sf0.1
        # — 4.1 s vs 0.7 s warm — a Generate quirk shared by the
        # xxhash64 family, which hashes pre-explode for the same
        # reason)
        exploded = per_doc.select(
            F.col(id_col),
            *[F.col(c) for c in carry],
            F.explode(
                F.expr("transform(_grams, s -> md5(s))")
            ).alias("_h"),
        ).select(
            F.col(id_col),
            *[F.col(c) for c in carry],
            F.expr(
                "cast(conv(substring(_h, 1, 7), 16, 10) as bigint)"
            ).alias("_x0"),
            F.expr(
                "cast(conv(substring(_h, 9, 7), 16, 10) as bigint)"
            ).alias("_x1"),
        )
        # int literals (a, b, c, _P31 all fit int32), left-associated
        # arithmetic: the parsed tree matches the previous Column chain
        # exactly, so the analyzer inserts the same bigint casts and
        # values are bit-identical
        agg_sqls = [
            f"min(({a} * _x0 + {b} * _x1 + {c}) % {_P31})"
            for (a, b, c) in consts
        ]
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    # r13: aggregate straight into the signature array — one
    # array-of-mins aggregate expression parsed in a single py4j call,
    # replacing num_hashes separate agg columns plus a second
    # num_hashes-wide F.array(...) select. The physical aggregation is
    # unchanged (the 64 mins are still the agg functions, map-side
    # partials included; the array is the aggregate's result
    # expression), and the output columns/order are identical.
    sig_expr = F.expr("array(" + ", ".join(agg_sqls) + ") AS signature")
    return exploded.groupBy(F.col(id_col), *[F.col(c) for c in carry]).agg(
        sig_expr
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    bands: int = 16,
    num_hashes: int = 64,
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Band the signatures and emit candidate pairs from bucket collisions.

    rows_per_band = num_hashes / bands. Pair probability follows the
    standard (1 - (1 - s^r)^b) S-curve — pick (bands, rows) for the target
    threshold; more rows per band = steeper curve = fewer false candidates.
    Join is on (block, band_ix, band_hash) — only colliding docs meet,
    never the full cross product.
    """
    blocks = block_cols or []
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    r = num_hashes // bands
    # Structural guard against a signature-length mismatch: if the caller
    # banded with a different num_hashes than the signatures were built
    # with, trailing bands all slice to the SAME short (or empty) array,
    # hash identically, and the bucket join silently degenerates toward
    # the all-pairs cross product this operator exists to avoid. The
    # check is a plain codegen expression (no driver-side .first()); it
    # fails the job loudly at the first bad row.
    checked = signatures.withColumn(
        "signature",
        F.when(F.size("signature") == num_hashes, F.col("signature")).otherwise(
            F.raise_error(
                F.format_string(
                    "minhash signature length %s != num_hashes "
                    + str(num_hashes),
                    F.size("signature").cast("string"),
                )
            )
        ),
    )
    banded = checked.select(
        F.col(id_col),
        *[F.col(c) for c in blocks],
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_ix"),
        F.col("signature"),
    ).select(
        F.col(id_col),
        *[F.col(c) for c in blocks],
        "band_ix",
        F.xxhash64(
            F.expr(f"slice(signature, band_ix * {r} + 1, {r})"), F.col("band_ix")
        ).alias("band_hash"),
    )
    keys = [*blocks, "band_ix", "band_hash"]
    # repartition on the bucket keys before aliasing the self-join sides:
    # both sides then share one identical shuffle subplan, so the
    # upstream signature pipeline runs ONCE with the exchange reused,
    # instead of once per side (same measured ~2x pattern as
    # ngram_jaccard_pairs; the merge hint below keeps AQE from
    # trading that reuse for a broadcast at small scale).
    banded = banded.repartition(*[F.col(c) for c in keys])
    a = banded.select(F.col(id_col).alias("id_a"), *keys)
    b = banded.select(F.col(id_col).alias("id_b"), *keys)
    # MERGE pin: without a join-strategy hint, AQE broadcast-converts
    # this self-join at small scale, replacing one side's exchange with
    # a BroadcastExchange — which forfeits the shared-shuffle subplan
    # and re-runs the banding projection for the broadcast side. A
    # sort-merge pin keeps both sides reading the one repartition at
    # EVERY scale AND spills under skew: the previous shuffle_hash pin
    # built an in-memory hash relation per partition, which a single
    # mega-bucket (near-identical signature cliques — exactly what a
    # dup-dense crawl produces) blew past executor heap at a 2M-doc
    # probe; sort-merge handles the same bucket by spilling the sort.
    # Measured cost (round 7, controlled: one warm local[32] session,
    # 5 reps each): merge median 2.69 s vs shuffle_hash 3.11 s at sf0.1
    # — the sort pin is NOT slower; the +43% the round-6 bench showed
    # was cross-round environment noise (same-commit bench reruns vary
    # 2.9-4.7 s under background load).
    return (
        a.hint("merge").join(b, on=keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_duplicates(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Full MinHash+LSH pipeline: signatures -> banded candidates -> exact
    Jaccard verification of candidates only.

    ``token_hash="md5_60"`` makes the ENTIRE pipeline engine-portable
    (signatures, banding, and verification all reproducible in DuckDB) —
    slower than JVM ``xxhash64``, but exactly oracle-checkable
    end-to-end (q104). ``"md5_u31"`` (round 9) is equally portable at
    the JVM family's speed (one md5 + universal integer permutations)
    — the certified q47 family.
    """
    blocks = block_cols or []
    sigs = minhash_signatures(
        docs, num_hashes, n, id_col, text_col, carry_cols=blocks,
        token_hash=token_hash,
    )
    cand = minhash_lsh_candidates(
        sigs, bands, num_hashes=num_hashes, id_col=id_col, block_cols=blocks
    )
    # exact verification WITHOUT re-exploding the corpus: each doc's
    # distinct gram set is a ROW-LOCAL array (hashed to 8-byte keys so
    # the arrays ride the two candidate joins cheaply — a collision
    # would need two distinct shingles of the same pair at p~2^-64),
    # and |A n B| becomes one codegen array_intersect per candidate
    # pair. The old posting x posting join shuffled every gram instance
    # a third and fourth time just to count intersections.
    _tokens = F.split(normalize_text(F.col(text_col)), " ")
    _gram_hashes = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(_toks) - {n - 1}, 0)), "
        f"i -> xxhash64(concat_ws(' ', slice(_toks, i, {n})))))"
    )
    doc_sets = (
        docs.select(F.col(id_col), _tokens.alias("_toks"))
        .where(F.size("_toks") >= n)
        .select(F.col(id_col), _gram_hashes.alias("_gset"))
    )
    return (
        cand.join(
            doc_sets.select(
                F.col(id_col).alias("id_a"), F.col("_gset").alias("_ga")
            ),
            "id_a",
        )
        .join(
            doc_sets.select(
                F.col(id_col).alias("id_b"), F.col("_gset").alias("_gb")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_ga", "_gb")).alias("n_common"),
            F.size("_ga").alias("n_a"),
            F.size("_gb").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint: sign of per-bit weighted sums of token hashes.

    Computed as one explode + one groupBy with ``bits`` conditional sums —
    everything stays in whole-stage codegen. Output: (doc_id, simhash).

    ``token_hash``: ``"xxhash64"`` (default — fastest, JVM-side) or
    ``"md5_60"`` — the low 60 bits of md5, slower but bit-identical in
    DuckDB, which makes the fingerprint exactly oracle-checkable
    (pair with ``bits<=60``).
    """
    tokens = F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok")
    if token_hash == "md5_60":
        if bits > 60:
            raise ValueError("md5_60 token hash supports at most 60 bits")
        # 15 hex chars = 60 bits: fits a signed long on both engines
        # (16 chars could exceed Long.MAX and casts to NULL in Spark)
        h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    elif token_hash == "xxhash64":
        h = F.xxhash64("tok")
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    tok = docs.select(F.col(id_col), tokens).withColumn("h", h)
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*bit_sums)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseXOR(term)
    return agg.select(F.col(id_col), fp.alias("simhash"))


def embedding_cosine_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "exact",
    planes: list[list[float]] | None = None,
    max_hamming: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine) for
    every pair with cosine similarity >= ``threshold``.

    ``method="exact"`` — all-pairs via an inequality join with the
    sequential-fold JVM dot product (bit-reproducible against a
    single-node oracle). Quadratic by design: it is the verification
    baseline and the small-collection path.

    ``method="lsh"`` — the 100 TB scale path: candidate pairs are
    generated by the banded hyperplane-signature equi-join (pigeonhole:
    any pair within ``max_hamming`` signature bits shares at least one
    exact band), then verified with the exact cosine. The corpus never
    self-joins all-pairs; recall is bounded by the signature geometry
    (pairs above the cosine threshold whose signatures differ in more
    than ``max_hamming`` of ``len(planes)`` bits are missed) — the same
    candidate-then-verify contract as MinHash dedup.
    """
    from solar_data_tools_spark.operators.similarity import (
        _as_double,
        _band_layout,
        _banded_bits,
        cosine,
        random_hyperplane_signatures,
    )

    if method == "exact":
        e = _as_double(embeddings.select(id_col, vec_col), vec_col)
        a = e.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")
        )
        b = e.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")
        )
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
        cos = cosine(F.col("_va"), F.col("_vb"))
        return (
            pairs.withColumn("cosine", cos)
            .where(F.col("cosine") >= F.lit(threshold))
            .select("id_a", "id_b", pround("cosine", 6).alias("cosine"))
        )
    if method != "lsh":
        raise ValueError(f"unknown method {method!r}")
    if planes is None:
        raise ValueError("method='lsh' requires hyperplane list")
    n_bits = len(planes)
    if max_hamming >= n_bits:
        # without this the band layout degenerates to zero-width bands
        # whose bits all hash to 0 — a silent all-pairs cross join
        raise ValueError("max_hamming must be < number of hyperplanes")
    bands = max_hamming + 1
    layout = _band_layout(n_bits, bands)
    sigs = random_hyperplane_signatures(embeddings, planes, id_col, vec_col)
    # band join carries only (id, sig, band) — never the vectors: with
    # `bands` rows per id on both sides, shipping embeddings through the
    # explode would amplify shuffle volume ~bands x corpus bytes per
    # side (the sibling lsh_topk uses the same id-only pattern)
    banded = sigs.select(
        F.col(id_col),
        F.col("lsh_sig"),
        F.explode(_banded_bits(F.col("lsh_sig"), layout)).alias("band"),
    )
    left = banded.select(
        F.col(id_col).alias("id_a"), F.col("lsh_sig").alias("_sa"), "band"
    )
    right = banded.select(
        F.col(id_col).alias("id_b"), F.col("lsh_sig").alias("_sb"), "band"
    )
    cand = (
        left.join(right, ["band"])
        .where(F.col("id_a") < F.col("id_b"))
        # a pair sharing k bands appears k times; dedup before the
        # (relatively) expensive exact verification
        .select("id_a", "id_b", "_sa", "_sb")
        .dropDuplicates(["id_a", "id_b"])
        .where(
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
            <= F.lit(max_hamming)
        )
        .select("id_a", "id_b")
    )
    vecs = _as_double(embeddings.select(id_col, vec_col), vec_col)
    cand = cand.join(
        vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")),
        "id_a",
    ).join(
        vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")),
        "id_b",
    )
    cos = cosine(F.col("_va"), F.col("_vb"))
    return (
        cand.withColumn("cosine", cos)
        .where(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", pround("cosine", 6).alias("cosine"))
    )


def embedding_incremental_dedup(
    new_embeddings: DataFrame,
    vector_store: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "exact",
    planes: list[list[float]] | None = None,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup a NEW batch of embeddings against a PERSISTED vector
    store — the embedding-family member of the incremental trio (exact
    hashes: ``snapshot_incremental_dedup`` q117; MinHash signatures:
    ``minhash_incremental_dedup`` q182/q183; this: q184). A training-
    data pipeline runs exactly this before adding a new crawl's
    embeddings to a SemDeDup-style store: drop vectors the store
    already covers, canonicalize the batch's internal near-dups, append
    the keeps.

    Verdict per new vector (``minhash_incremental_dedup``'s contract,
    one-for-one):

      * ``store_dup`` — cosine >= ``threshold`` against some store
        vector (``matched_id`` = min such store id);
      * ``batch_dup`` — cosine >= ``threshold`` against a LOWER-id new
        vector (min-id canonicalization), and no store match;
      * ``new``       — neither -> ``keep``.

    ``method="exact"`` is the verification baseline (q89's sequential-
    fold cosine inside a theta join — quadratic BY DESIGN, oracle-
    replayable bit-for-bit; q184). ``method="lsh"`` is the 100 TB path:
    banded hyperplane signatures on both sides (ids+signatures only
    ride the band join, never vectors), pigeonhole Hamming prefilter,
    exact-cosine verification of candidates only — same recall contract
    as ``embedding_cosine_duplicates(method="lsh")``. If the store
    already carries an ``lsh_sig`` column (persist it at append time —
    the analogue of ``minhash_band_store``), it is used as-is and the
    store's vectors are only touched for candidate verification.

    Degenerate vectors — NULL or all-zero — have no cosine direction,
    so new rows carrying one are DROPPED from the output (they cannot
    be verdicted and must not be appended to the store), mirroring the
    MinHash operator's documented drop of docs with no shingles;
    degenerate STORE rows are filtered out of the join (they can match
    nothing — a null-norm cosine satisfies no threshold — so filtering
    is semantics-neutral and keeps null cosines out of the verify).
    Embed-then-dedup pipelines that want those rows surfaced should
    gate on ``exists(vec, x -> x != 0)`` upstream.
    """
    from solar_data_tools_spark.operators.similarity import (
        _as_double,
        _band_layout,
        _banded_bits,
        cosine,
        random_hyperplane_signatures,
    )

    # the degenerate-vector gate (see docstring): evaluated once per
    # row at the scan, stays codegen (exists() here is a filter-time
    # predicate, not a hot-loop fold)
    _nondegenerate = F.col(vec_col).isNotNull() & F.exists(
        F.col(vec_col), lambda x: x != F.lit(0.0)
    )
    vecs_new = _as_double(
        new_embeddings.select(id_col, vec_col).where(_nondegenerate),
        vec_col,
    )
    vecs_store = _as_double(
        vector_store.select(id_col, vec_col).where(_nondegenerate),
        vec_col,
    )

    if method == "exact":
        cos_ns = cosine(F.col("_vn"), F.col("_vs"))
        store_m = (
            vecs_new.select(
                F.col(id_col).alias("_nid"), F.col(vec_col).alias("_vn")
            )
            .join(
                vecs_store.select(
                    F.col(id_col).alias("_sid"),
                    F.col(vec_col).alias("_vs"),
                ),
                cos_ns >= F.lit(threshold),
            )
            .groupBy("_nid")
            .agg(F.min("_sid").alias("_store_match"))
        )
        cos_nn = cosine(F.col("_van"), F.col("_vbn"))
        batch_m = (
            vecs_new.select(
                F.col(id_col).alias("_ida"), F.col(vec_col).alias("_van")
            )
            .join(
                vecs_new.select(
                    F.col(id_col).alias("_idb"),
                    F.col(vec_col).alias("_vbn"),
                ),
                (F.col("_ida") < F.col("_idb"))
                & (cos_nn >= F.lit(threshold)),
            )
            .groupBy("_idb")
            .agg(F.min("_ida").alias("_batch_match"))
        )
    elif method == "lsh":
        if planes is None:
            raise ValueError("method='lsh' requires hyperplane list")
        n_bits = len(planes)
        if max_hamming >= n_bits:
            raise ValueError(
                "max_hamming must be < number of hyperplanes"
            )
        layout = _band_layout(n_bits, max_hamming + 1)
        sigs_new = random_hyperplane_signatures(
            new_embeddings.where(_nondegenerate), planes, id_col, vec_col
        )
        if "lsh_sig" in vector_store.columns:
            sigs_store = vector_store.where(_nondegenerate).select(
                id_col, "lsh_sig"
            )
        else:
            sigs_store = random_hyperplane_signatures(
                vector_store.where(_nondegenerate), planes, id_col, vec_col
            )

        def _banded(sig_df, alias):
            return sig_df.select(
                F.col(id_col).alias(alias),
                F.col("lsh_sig"),
                F.explode(
                    _banded_bits(F.col("lsh_sig"), layout)
                ).alias("band"),
            )

        def _verify(cand, right_vecs, lid, rid, left_v, right_v):
            cos = cosine(F.col(left_v), F.col(right_v))
            return (
                cand.join(
                    vecs_new.select(
                        F.col(id_col).alias(lid),
                        F.col(vec_col).alias(left_v),
                    ),
                    lid,
                )
                .join(
                    right_vecs.select(
                        F.col(id_col).alias(rid),
                        F.col(vec_col).alias(right_v),
                    ),
                    rid,
                )
                .where(cos >= F.lit(threshold))
            )

        bn = _banded(sigs_new, "_nid")
        bs = _banded(sigs_store, "_sid").withColumnRenamed(
            "lsh_sig", "_ssig"
        )
        cand_s = (
            bn.join(bs, ["band"])
            .where(
                F.bit_count(F.col("lsh_sig").bitwiseXOR(F.col("_ssig")))
                <= F.lit(max_hamming)
            )
            .select("_nid", "_sid")
            .dropDuplicates(["_nid", "_sid"])
        )
        store_m = (
            _verify(cand_s, vecs_store, "_nid", "_sid", "_vn", "_vs")
            .groupBy("_nid")
            .agg(F.min("_sid").alias("_store_match"))
        )
        bb = _banded(sigs_new, "_idb").withColumnRenamed(
            "lsh_sig", "_sb"
        )
        cand_n = (
            _banded(sigs_new, "_ida")
            .join(bb, ["band"])
            .where(
                (F.col("_ida") < F.col("_idb"))
                & (
                    F.bit_count(F.col("lsh_sig").bitwiseXOR(F.col("_sb")))
                    <= F.lit(max_hamming)
                )
            )
            .select("_ida", "_idb")
            .dropDuplicates(["_ida", "_idb"])
        )
        batch_m = (
            _verify(cand_n, vecs_new, "_ida", "_idb", "_van", "_vbn")
            .groupBy("_idb")
            .agg(F.min("_ida").alias("_batch_match"))
        )
    else:
        raise ValueError(f"unknown method {method!r}")

    return (
        # the verdict skeleton starts from the FILTERED new set: a
        # degenerate row is dropped, not verdicted 'new' (docstring)
        vecs_new.select(id_col)
        .join(
            store_m.withColumnRenamed("_nid", id_col), id_col, "left"
        )
        .join(
            batch_m.withColumnRenamed("_idb", id_col), id_col, "left"
        )
        .select(
            F.col(id_col),
            F.when(F.col("_store_match").isNotNull(), F.lit("store_dup"))
            .when(F.col("_batch_match").isNotNull(), F.lit("batch_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.when(
                F.col("_store_match").isNotNull(), F.col("_store_match")
            )
            .otherwise(F.col("_batch_match"))
            .alias("matched_id"),
            (
                F.col("_store_match").isNull()
                & F.col("_batch_match").isNull()
            ).alias("keep"),
        )
    )


def simhash_near_duplicates(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash near-duplicate pairs: every (id_a < id_b) whose
    fingerprints differ in at most ``max_hamming`` bits, with the exact
    Hamming distance.

    Scale shape — banded Hamming join, NOT an all-pairs comparison: the
    fingerprint is split into ``max_hamming + 1`` contiguous bit-bands;
    by pigeonhole, any pair within ``max_hamming`` bits agrees EXACTLY
    on at least one band, so candidates come from an equi-join on
    (band_ix, band_value) and the final ``bit_count(xor) <= k`` verify
    filters candidates only. The result is therefore EXACTLY the
    all-pairs answer (the banding is lossless, unlike similarity LSH) —
    which is what the q107 oracle checks against.

    ``token_hash="md5_60"`` (with ``bits<=60``) makes the fingerprints
    — and hence the whole pair set — bit-identical in DuckDB.
    """
    fp = simhash(docs, id_col, text_col, bits, token_hash)
    bands = max_hamming + 1
    base, extra = divmod(bits, bands)
    layout, start = [], 0
    for i in range(bands):
        width = base + (1 if i < extra else 0)
        layout.append((start, width))
        start += width
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), s).bitwiseAND(
                F.lit((1 << w) - 1)
            )
            for s, w in layout
        ]
    )
    banded = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(band_vals).alias("band_ix", "band_val"),
    )
    # single shared shuffle for both self-join sides (exchange reuse):
    # the fingerprint computation runs once, not once per side
    banded = banded.repartition(F.col("band_ix"), F.col("band_val"))
    a = banded.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("_fa"),
        "band_ix",
        "band_val",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("_fb"),
        "band_ix",
        "band_val",
    )
    cand = (
        a.join(b, on=["band_ix", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_fa", "_fb")
        .distinct()
    )
    ham = F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb")))
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def substring_duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_freq: int = 2,
) -> DataFrame:
    """Exact duplicated-substring spans (suffix-array dedup, re-expressed
    relationally — the "exact substring" method of Lee et al. 2022,
    *Deduplicating Training Data Makes Language Models Better*).

    A token window of length ``k`` that occurs in >= ``min_doc_freq``
    DISTINCT documents marks a verbatim cross-document copy; overlapping
    and adjacent duplicated windows merge into maximal spans. This finds
    the copied REGIONS inside otherwise-distinct documents (boilerplate,
    licenses, quoted passages) that whole-doc dedup (exact or MinHash)
    cannot see.

    Plan (all built-ins, no Python in the hot path):
      1. one projection explodes each doc into (pos, xxhash64(window))
         postings — positions matter, so no array_distinct here;
      2. windows present in >= min_doc_freq distinct docs survive a
         hash-keyed aggregate (map-side partial combine; the 8-byte
         xxhash64 key keeps shuffle width constant, same trick as
         ngram_jaccard_pairs — a false merge needs a 2^-64 collision);
      3. postings re-join the surviving hashes on the same key (both
         sides already hash-partitioned by whash: co-located join);
      4. per-doc interval merge via gaps-and-islands — windows starting
         within k tokens overlap/touch, so a new island begins where
         pos - lag(pos) > k; the per-doc window is bounded by document
         length, never corpus size.

    Output: one row per maximal span —
    (doc_id, span_start, span_end, n_dup_tokens), token positions
    1-based inclusive. 100 TB note: stage 2's aggregate and stage 3's
    join shuffle ~8+8 bytes per posting; total work is O(total tokens),
    the same cost class as the n-gram Jaccard index, with no all-pairs
    term anywhere.
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    grams = F.expr(
        f"transform(sequence(1, greatest(size(_toks) - {k - 1}, 0)), "
        f"i -> named_struct('pos', i, 'whash', "
        f"xxhash64(concat_ws(' ', slice(_toks, i, {k})))))"
    )
    posting = (
        docs.select(F.col(id_col), toks.alias("_toks"))
        .where(F.size("_toks") >= k)
        .select(F.col(id_col), F.explode(grams).alias("g"))
        .select(F.col(id_col), F.col("g.pos").alias("pos"), F.col("g.whash").alias("whash"))
    )
    dup_hashes = (
        posting.groupBy("whash")
        .agg(F.countDistinct(id_col).alias("doc_freq"))
        .where(F.col("doc_freq") >= min_doc_freq)
        .select("whash")
    )
    hits = posting.join(dup_hashes, "whash").select(id_col, "pos")
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    islands = hits.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("n_dup_tokens"),
        )
    )


def snapshot_incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup a NEW snapshot against an already-ingested corpus — the
    incremental-crawl operation ("drop everything we already have, and
    the internal copies within this dump") that production pipelines
    run on every new CommonCrawl snapshot instead of re-deduplicating
    the whole corpus from scratch.

    Verdict per new doc, on the normalized-text md5 content key:

    * ``corpus_dup``  — the content already exists in ``corpus``;
    * ``snapshot_dup`` — first seen in THIS snapshot, but a lower-id
      new doc carries the same content (lowest id wins, the layer's
      canonicalization convention);
    * ``new``          — first occurrence anywhere → ``keep``.

    Scale shape: the corpus side reduces to DISTINCT content hashes
    before the join (one keyed agg over the — much larger — corpus,
    map-side combine), then a hash-keyed LEFT SEMI-shaped join marks
    corpus dups; deliberately NOT broadcast (the corpus hash set at
    100 TB is itself TB-scale; AQE will still broadcast when a small
    corpus measures small). Within-snapshot canonicalization is one
    min-id agg keyed by the same hash. Text never shuffles — only
    (id, md5) pairs ride every exchange.
    """
    key = F.md5(normalize_text(F.col(text_col))).alias("_h")
    new_keyed = new_docs.select(F.col(id_col), key)
    corpus_hashes = corpus.select(key).distinct()

    in_corpus = (
        new_keyed.join(
            corpus_hashes.withColumn("_in_corpus", F.lit(True)), "_h", "left"
        )
    )
    first_ids = new_keyed.groupBy("_h").agg(F.min(id_col).alias("_first_id"))
    verdicts = (
        in_corpus.join(first_ids, "_h")
        .select(
            F.col(id_col),
            F.col("_h").alias("content_md5"),
            F.when(F.col("_in_corpus"), F.lit("corpus_dup"))
            .when(F.col(id_col) > F.col("_first_id"), F.lit("snapshot_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
        )
        .withColumn("keep", F.col("verdict") == "new")
    )
    return verdicts


def minhash_signature_expr(
    text_col: str = "text",
    num_hashes: int = 64,
    n: int = 3,
):
    """ROW-LOCAL md5_u31 MinHash signature as a single Column — the
    stream-legal twin of ``minhash_signatures(token_hash="md5_u31")``
    (bit-identical values, parity-tested): no explode, no groupBy, so
    it composes into Structured Streaming projections where a streaming
    aggregation would need unbounded per-doc state.

    Cost profile: the per-permutation ``array_min(transform(...))``
    folds are higher-order functions and run INTERPRETED
    (CodegenFallback) — measured ~2x the batch agg shape per row — so
    BATCH jobs should keep using ``minhash_signatures`` (the
    whole-stage-codegen min-aggregate formulation); this expression
    exists for ingest-time signing, where per-row latency is bounded by
    the doc itself and statelessness is the requirement.
    """
    consts = md5_u31_constants(num_hashes)
    tokens = F.split(normalize_text(F.col(text_col)), " ")
    # backtick-quote the column for the raw-SQL fragments so any valid
    # column name (dotted, spaced) resolves as ONE identifier, matching
    # the batch path's F.col() semantics
    qcol = "`" + text_col.replace("`", "``") + "`"
    grams = (
        f"array_distinct(transform(sequence(1, greatest(size("
        f"split(trim(regexp_replace(lower({qcol}), '\\\\s+', ' ')), ' '))"
        f" - {n - 1}, 0)), i -> concat_ws(' ', slice("
        f"split(trim(regexp_replace(lower({qcol}), '\\\\s+', ' ')), ' '),"
        f" i, {n}))))"
    )
    # one md5 per distinct shingle, sliced into the two 28-bit halves
    # once, shared by all permutations (same economy as the batch path)
    xs = (
        f"transform({grams}, s -> named_struct("
        "'x0', cast(conv(substring(md5(s), 1, 7), 16, 10) as bigint), "
        "'x1', cast(conv(substring(md5(s), 9, 7), 16, 10) as bigint)))"
    )
    mins = ", ".join(
        f"array_min(transform(_xs, p -> ({a}L * p.x0 + {b}L * p.x1 + {c}L)"
        f" % {_P31}L))"
        for a, b, c in consts
    )
    # SQL has no WITH-expression, so _xs is bound once per row via a
    # single-element transform lambda: the md5/slice work evaluates
    # ONCE, shared by all 64 permutation folds
    sig = F.expr(f"transform(array({xs}), _xs -> array({mins}))[0]")
    # docs with fewer than n tokens have no shingles in the batch path
    # (it drops them); mirror with NULL so callers can filter
    return F.when(F.size(tokens) >= n, sig)


def minhash_band_store(
    signatures: DataFrame,
    bands: int = 8,
    num_hashes: int = 64,
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Explode a signature store into its persisted BANDED layout —
    (``id_col``, blocks..., ``band_ix``, ``band_hash``,
    ``signature``) — so the per-dump incremental join never re-derives
    history's band buckets: write this ONCE per store generation,
    bucketed/partitioned by (``band_ix``, ``band_hash``), and pass it
    to ``minhash_incremental_dedup(..., store_is_banded=True)``.

    Trade-off, stated: carrying ``signature`` on every banded row costs
    x ``bands`` signature copies at rest (64 longs -> ~0.5 KiB x 8 =
    ~4 KiB/doc) but removes BOTH per-dump history passes — the band
    explode AND the candidate-verify signature lookup (collision rows
    arrive with the store signature attached). At rest is the cheap
    side of a crawl store; if 4 KiB/doc matters more than a second
    store scan per dump, persist without the signature column and keep
    the default two-pass path.

    Measured honestly (local[32]):
    at 1M-vs-1M the banded path is wall-PARITY with the default
    (47.3 s vs 42.8 s) — on local NVMe, scanning x8 signature copies
    costs about what the skipped band explode saves. The layout's real
    win is a CLUSTER property this host cannot show: bucketed by
    (band_ix, band_hash), the candidate join is co-located (no
    history-side shuffle at all), where the default path shuffles the
    derived band rows of the whole store every dump.

    The layout RECORDS its geometry: a constant ``band_r`` column (the
    slice width ``num_hashes // bands``) rides every row, and
    ``minhash_incremental_dedup(store_is_banded=True)`` validates it
    against the consumer's geometry. Signature length alone cannot
    distinguish a store banded at bands=16 from one banded at bands=8
    for the same num_hashes — the band hashes differ silently and no
    bucket ever collides — so (length, band_r) together pin
    (num_hashes, bands) exactly.
    """
    blocks = block_cols or []
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    r = num_hashes // bands
    return signatures.select(
        F.col(id_col),
        *[F.col(c) for c in blocks],
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_ix"),
        F.col("signature"),
    ).select(
        F.col(id_col),
        *[F.col(c) for c in blocks],
        "band_ix",
        F.xxhash64(
            F.expr(f"slice(signature, band_ix * {r} + 1, {r})"),
            F.col("band_ix"),
        ).alias("band_hash"),
        F.lit(r).alias("band_r"),
        "signature",
    )


def minhash_incremental_dedup(
    new_docs: DataFrame,
    signature_store: DataFrame,
    num_hashes: int = 64,
    bands: int = 8,
    n: int = 1,
    sim_threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    token_hash: str = "md5_u31",
    materialize: str = "local",
    store_is_banded: bool = False,
) -> DataFrame:
    """Near-dup a NEW crawl dump against a PERSISTED MinHash signature
    store — the per-dump CCNet/RefinedWeb loop: history is represented
    ONLY by its signatures (built once, by a previous run of
    ``minhash_signatures`` with the same family/geometry), so each new
    dump costs O(new) signing + a banded join, never a re-sign or
    re-scan of the accumulated corpus text.

    Inputs:
      * ``new_docs`` — this dump's documents (``id_col``, ``text_col``,
        ``block_cols``);
      * ``signature_store`` — (``id_col``, ``block_cols``...,
        ``signature array<bigint>``) rows for every KEPT historical doc.

    Verdict per signed new doc (docs with no shingles are dropped, as in
    ``minhash_near_duplicates``):

      * ``history_dup``  — >= ``ceil(sim_threshold * num_hashes)`` of the
        ``num_hashes`` signature components match some store row that
        shares an LSH band bucket (signature-estimated similarity — the
        history TEXT is gone by design, so the estimate IS the verdict);
      * ``snapshot_dup`` — same criterion against a lower-id doc of THIS
        dump (lowest id wins, the layer's canonicalization convention,
        matching ``snapshot_incremental_dedup``);
      * ``new``          — neither -> ``keep``.

    ``matched_id`` is the minimum matching store id (history_dup) or the
    minimum lower new id (snapshot_dup). The returned frame carries each
    new doc's ``signature``, so the store append is exactly
    ``out.where("keep").select(id, blocks..., "signature")`` — again, no
    re-signing.

    Scale shape (the 100 TB contract):
      * the store contributes a NARROW projection — (id, blocks,
        8-byte band hash) exploded x ``bands`` — to the candidate join;
        its text is never read and its signatures are only re-joined for
        the candidate subset (AQE broadcasts the small candidate side,
        so the store-side signature lookup is one scan, no store-wide
        shuffle). At production scale, persist the store bucketed by
        (band_ix, band_hash) and the candidate join is co-located too.
      * candidate verification is q47's back-join shape: band collision
        proposes, a static codegen sum of per-component equalities over
        the two 64-long arrays disposes — no HOF lambdas, no re-explode.
      * both verdict branches (new-vs-store and new-vs-new) are FUSED
        into one candidate pipeline over a provenance-flagged unioned
        reference (r13 for the default path, r14 for the banded path):
        one band join, one verify pass, one groupBy with a
        min(when(provenance)) per branch — identical verdicts by
        construction, half the candidate-side stages.

    ``store_is_banded=True`` takes ``signature_store`` in the
    ``minhash_band_store`` layout instead (persisted bucketed by
    (band_ix, band_hash) once per store generation): the per-dump run
    then skips history's band explode entirely and collision rows
    arrive with the store signature attached, so the candidate-verify
    lookup needs no second history pass either — history's per-dump
    cost drops to one co-located scan of the bucketed layout. The
    layout's recorded ``band_r`` column is validated against this
    call's ``num_hashes // bands`` (on a join key, so it fires even
    when nothing collides): a store banded at a different geometry
    raises instead of silently verdicting every history dup 'new'.

    With ``token_hash="md5_u31"`` (default) every stage replays
    bit-for-bit in DuckDB — certified end-to-end as q182 (the q47
    oracle parameterized over two generations; the banded-layout path
    is value-parity-tested against the default path).

    Reference parity: solar-data-tools has no corpus tier; this is the
    north-star extension's incremental form (VERDICT r11 item 1).
    """
    import math

    blocks = block_cols or []
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    r = num_hashes // bands
    min_equal = math.ceil(sim_threshold * num_hashes)

    sigs_new = minhash_signatures(
        new_docs, num_hashes, n, id_col, text_col,
        carry_cols=blocks, token_hash=token_hash,
    )
    # the new dump's signature table fans out to FOUR consumers on
    # either fused path (left banding, the reference union's banding,
    # the verify lookup, the final verdict join) — materialize it once
    # or the signing pipeline (the
    # md5-per-shingle stage, the expensive part) re-executes per
    # consumer. The STORE side is deliberately NOT checkpointed: it is
    # already a persisted table, and re-scanning a narrow parquet
    # projection twice beats writing a second copy of TB-scale history.
    from solar_data_tools_spark.session import materialize_df

    sigs_new = materialize_df(sigs_new, materialize)

    def _banded(
        sig_df: DataFrame, alias: str, carry: tuple[str, ...] = ()
    ) -> DataFrame:
        # Same geometry + structural length guard as
        # minhash_lsh_candidates (kept inline so this operator never
        # perturbs the certified q47 plan); the guard matters MORE here:
        # a store written with a different num_hashes would otherwise
        # silently band every history row into the same short-slice
        # buckets and mark the whole dump history_dup.
        checked = sig_df.withColumn(
            "signature",
            F.when(
                F.size("signature") == num_hashes, F.col("signature")
            ).otherwise(
                F.raise_error(
                    F.format_string(
                        "minhash signature length %s != num_hashes "
                        + str(num_hashes),
                        F.size("signature").cast("string"),
                    )
                )
            ),
        )
        return checked.select(
            F.col(id_col).alias(alias),
            *[F.col(c) for c in blocks],
            *[F.col(c) for c in carry],
            F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias(
                "band_ix"
            ),
            F.xxhash64(
                F.expr(f"slice(signature, band_ix * {r} + 1, {r})"),
                F.col("band_ix"),
            ).alias("band_hash"),
        )

    keys = [*blocks, "band_ix", "band_hash"]

    # static codegen component-match count over two signature arrays —
    # the "agg of k static expressions beats one interpreted HOF fold"
    # lesson from minhash_signatures applied to verification
    def _n_equal(a: str, b: str):
        # r13: one SQL string, one py4j round trip. The previous
        # num_hashes-long chain of F.when(...)==... Column objects cost
        # ~0.6 s of driver time per plan BUILD at 64 hashes (py4j
        # chatter, profiled); CASE WHEN parses to the identical
        # CaseWhen/Add left-chain, so codegen and values are unchanged.
        return F.expr(
            " + ".join(
                f"(CASE WHEN element_at({a}, {i + 1}) = "
                f"element_at({b}, {i + 1}) THEN 1 ELSE 0 END)"
                for i in range(num_hashes)
            )
        )

    # --- new vs HISTORY ---------------------------------------------
    if store_is_banded:
        # pre-banded persisted layout (minhash_band_store): the band
        # explode never re-runs and collisions arrive with the store
        # signature attached — one history pass total. The guard checks
        # BOTH signature length AND the layout's recorded band_r (the
        # slice width the store was banded with): length alone cannot
        # catch a store banded at different `bands` for the SAME
        # num_hashes (band hashes differ silently and no bucket ever
        # collides — every history dup would be verdicted 'new').
        # the guard wraps a JOIN KEY (band_ix), not the signature
        # payload: a payload-side guard is lazily skipped when no
        # bucket collides, which is exactly when a wrong-geometry
        # store would otherwise fail SILENTLY
        if "band_r" not in signature_store.columns:
            raise ValueError(
                "store_is_banded=True requires the minhash_band_store "
                "layout, which records its geometry in a 'band_r' "
                "column; this store lacks it (written by a pre-r13 "
                "minhash_band_store?) — rewrite the banded layout, or "
                "pass the raw (id, signature) store with "
                "store_is_banded=False"
            )
        store_b = signature_store.select(
            F.col(id_col).alias("_oid"),
            *[F.col(c) for c in blocks],
            F.when(
                (F.size("signature") == num_hashes)
                & (F.col("band_r") == r),
                F.col("band_ix"),
            )
            .otherwise(
                F.raise_error(
                    F.format_string(
                        "banded minhash store geometry (signature "
                        "length %s, band_r %s) != consumer geometry "
                        f"(num_hashes {num_hashes}, band_r {r})",
                        F.size("signature").cast("string"),
                        F.col("band_r").cast("string"),
                    )
                )
            )
            .alias("band_ix"),
            "band_hash",
            F.col("signature").alias("_gs"),
            F.lit(True).alias("_is_hist"),
        )
        # r14 (VERDICT r13 item 3, guide §2.4): the banded path's verdict
        # is FUSED like the non-banded one below — the banded store rows
        # already carry their signature (the layout's design trade), so
        # the within-dump reference rows just carry theirs too and both
        # branches ride ONE candidate join over a provenance-flagged
        # union: one band join (was 2), one signature back-join for the
        # new side only (was 3 back-joins), one groupBy with
        # min(when(provenance)) per branch (was 2 groupBys + 2 final
        # left joins). Identical verdicts by construction: same
        # candidate multisets per branch (history at any id, within-dump
        # keeps the `other < new` orientation), the verify predicate is
        # a symmetric equality count, and min-over-multiset = min per
        # branch. The old within-dump exchange-reuse self-join is traded
        # for one union-side re-band of the localCheckpointed dump
        # signatures — a narrow scan, same trade the fused path below
        # made (and parity/oracle-verified the same way: q183/q187).
        banded_new_ref = _banded(
            sigs_new, "_oid", carry=("signature",)
        ).select(
            "_oid",
            *blocks,
            "band_ix",
            "band_hash",
            F.col("signature").alias("_gs"),
            F.lit(False).alias("_is_hist"),
        )
        ref_b = store_b.unionByName(banded_new_ref)
        cand_b = (
            _banded(sigs_new, "_nid")
            .join(ref_b, on=keys)
            .where(F.col("_is_hist") | (F.col("_oid") < F.col("_nid")))
            .select("_nid", "_oid", "_is_hist", "_gs")
        )
        matches_b = (
            cand_b.join(
                sigs_new.select(
                    F.col(id_col).alias("_nid"),
                    F.col("signature").alias("_gn"),
                ),
                "_nid",
            )
            .where(_n_equal("_gn", "_gs") >= min_equal)
            .groupBy("_nid")
            .agg(
                F.min(F.when(F.col("_is_hist"), F.col("_oid"))).alias(
                    "_hist_match"
                ),
                F.min(F.when(~F.col("_is_hist"), F.col("_oid"))).alias(
                    "_snap_match"
                ),
            )
        )
        return _incremental_verdict(
            sigs_new.join(
                matches_b.withColumnRenamed("_nid", id_col),
                id_col,
                "left",
            ),
            id_col,
            blocks,
        )

    # --- non-banded store: FUSED candidate + verify pipeline ---------
    # (round 13, guide §2.4 "remove shuffles outright"): the previous
    # shape ran TWO parallel band-join pipelines — new-vs-store and
    # new-vs-new — each with its own candidate join, distinct, two
    # verify back-joins, and groupBy, then TWO left joins assembled the
    # verdict. Both pipelines compared the SAME left side (the dump's
    # banded signatures) against reference signatures that only differ
    # in provenance, so they fuse into ONE pipeline over a unioned
    # reference table carrying an ``_is_hist`` provenance flag:
    # one band join, one distinct, one verify join, one groupBy with
    # conditional mins, one final left join. Identical verdicts by
    # construction (the within-dump branch keeps its ``other < new``
    # predicate; min-per-branch via min(when(provenance))), measured
    # ~2.4 s faster at sf0.1 (q182 9.6 -> 7.2 s with the same store),
    # and at cluster scale it halves the candidate-side shuffle count
    # (same shuffled bytes: the old new-vs-new exchange reuse is traded
    # for one union-side re-band of the checkpointed dump signatures —
    # a narrow scan). The verify join keys on (_oid, _is_hist) so a
    # store id colliding with a dump id can never cross-match.
    ref = signature_store.select(
        F.col(id_col),
        *[F.col(c) for c in blocks],
        F.col("signature"),
        F.lit(True).alias("_is_hist"),
    ).unionByName(
        sigs_new.select(
            F.col(id_col),
            *[F.col(c) for c in blocks],
            F.col("signature"),
            F.lit(False).alias("_is_hist"),
        )
    )
    # NO .distinct() on the candidate set (round 13): the min-per-branch
    # aggregate below dedups (min over the collision MULTISET equals min
    # over the pair set), collision multiplicity is bounded by ``bands``,
    # and the verify predicate is a cheap codegen integer expression —
    # so a full extra shuffle + aggregate to dedup pairs costs more than
    # the <= bands-fold verify fan-in it saves (measured: q182 sf0.1
    # 8.4 -> 5.7 s median with identical output, and the removed
    # exchange was the run-to-run variance driver).
    cand = (
        _banded(sigs_new, "_nid")
        .join(_banded(ref, "_oid", carry=("_is_hist",)), on=keys)
        # history rows match at any id; within-dump rows keep the
        # lowest-id-wins orientation (other strictly below the new doc)
        .where(F.col("_is_hist") | (F.col("_oid") < F.col("_nid")))
        .select("_nid", "_oid", "_is_hist")
    )
    matches = (
        cand.join(
            sigs_new.select(
                F.col(id_col).alias("_nid"),
                F.col("signature").alias("_gn"),
            ),
            "_nid",
        )
        .join(
            ref.select(
                F.col(id_col).alias("_oid"),
                "_is_hist",
                F.col("signature").alias("_gs"),
            ),
            ["_oid", "_is_hist"],
        )
        .where(_n_equal("_gn", "_gs") >= min_equal)
        .groupBy("_nid")
        .agg(
            F.min(F.when(F.col("_is_hist"), F.col("_oid"))).alias(
                "_hist_match"
            ),
            F.min(F.when(~F.col("_is_hist"), F.col("_oid"))).alias(
                "_snap_match"
            ),
        )
    )
    return _incremental_verdict(
        sigs_new.join(
            matches.withColumnRenamed("_nid", id_col), id_col, "left"
        ),
        id_col,
        blocks,
    )


def _incremental_verdict(
    joined: DataFrame, id_col: str, blocks: list[str]
) -> DataFrame:
    """Shared verdict projection for ``minhash_incremental_dedup``:
    ``joined`` is the dump's signature table left-joined with per-doc
    ``_hist_match`` / ``_snap_match`` min-id columns (NULL = no match
    in that branch)."""
    return joined.select(
        F.col(id_col),
        *[F.col(c) for c in blocks],
        F.col("signature"),
        F.when(F.col("_hist_match").isNotNull(), F.lit("history_dup"))
        .when(F.col("_snap_match").isNotNull(), F.lit("snapshot_dup"))
        .otherwise(F.lit("new"))
        .alias("verdict"),
        F.when(F.col("_hist_match").isNotNull(), F.col("_hist_match"))
        .otherwise(F.col("_snap_match"))
        .alias("matched_id"),
        (
            F.col("_hist_match").isNull() & F.col("_snap_match").isNull()
        ).alias("keep"),
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_freq: int = 2,
    min_line_chars: int = 4,
) -> DataFrame:
    """Cross-document LINE deduplication (CCNet-style boilerplate
    removal): a line whose trimmed text appears in >= ``min_doc_freq``
    DISTINCT documents is boilerplate (nav bars, cookie banners, license
    footers) and is dropped from every document that carries it; lines
    shorter than ``min_line_chars`` after trimming are kept as-is (too
    short to be meaningful dedup evidence).

    Output: (id, text, n_lines, n_dropped) with ``text`` rebuilt from
    the surviving lines in original order.

    Scale shape: the line TEXT never rides a hash shuffle — the explode
    happens inside the scan task and only (doc_id, pos, md5) triples
    leave it; the doc-frequency agg and the frequent-hash join are
    keyed on the 16-byte hash. Dropped positions fold back to one small
    int-array row per affected doc, and the rebuild is a ROW-LOCAL
    positional filter over the original text column, so full documents
    move through at most the one doc-id join shuffle (zero when AQE
    measures the drop-list side small enough to broadcast — no hint,
    because at crawl scale the boilerplate set can itself be huge).
    """
    split_col = F.split(F.col(text_col), "\n")
    keyed = docs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(split_col, lambda x: F.trim(x))
        ).alias("_pos", "_t"),
    ).select(
        id_col,
        "_pos",
        F.when(F.length("_t") >= min_line_chars, F.md5(F.col("_t"))).alias(
            "_h"
        ),
    )
    frequent = (
        keyed.where(F.col("_h").isNotNull())
        .groupBy("_h")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .where(F.col("_df") >= min_doc_freq)
        .select("_h")
    )
    drops = (
        keyed.join(frequent, "_h")
        .groupBy(id_col)
        .agg(F.collect_set("_pos").alias("_dropped"))
    )
    kept = F.filter(
        split_col,
        lambda x, i: ~F.coalesce(
            F.array_contains(F.col("_dropped"), i), F.lit(False)
        ),
    )
    return docs.join(drops, id_col, "left").select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("text"),
        F.size(split_col).cast("long").alias("n_lines"),
        F.coalesce(F.size("_dropped"), F.lit(0)).cast("long").alias(
            "n_dropped"
        ),
    )


def dedup_lines_within_doc(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 4,
    sep: str = "\\n",
    engine: str = "expr",
) -> DataFrame:
    """WITHIN-document line deduplication: keep only the FIRST
    occurrence of each (trimmed) line inside a document — the in-doc
    counterpart of the cross-document ``line_dedup`` (templated pages
    repeat their own nav blocks / list boilerplate many times within one
    document; cross-doc frequency never sees that). Lines shorter than
    ``min_line_chars`` after trimming are kept as-is, mirroring
    ``line_dedup``'s short-line rule.

    Scale shape: ZERO shuffle in either engine — the first-occurrence
    rule is row-local, fuses into the scan, and is stream-legal
    (stateless ingest-time gate). Two engines, identical outputs
    (parity-tested):

    * ``"expr"`` (default, the q160 oracle path) — pure built-ins
      (``filter`` + ``array_position``); zero Python, but O(L^2) string
      compares per document. Round-7 probe: 31 s for 1M x 60-unit docs
      on local[32] (~31 us/doc) — fine for typical line counts, but a
      10k-line page costs ~1 s alone.
    * ``"pandas"`` — Arrow-batched seen-set per document, O(L); the
      long-document path. Same probe: 7.5 s for the 1M x 60-unit corpus
      (identical 28.76M drop count — engine parity holds at scale) and
      14.3 s for 10k docs of 5,000 units each, where the expr engine's
      25M compares PER DOC would take minutes.

    ``sep`` is the unit boundary (regex for ``split``): "\\n" for
    lines (default), "\\n\\n" for paragraphs, " " for repeated-token
    suppression on single-line corpora.

    Output: (id, text rebuilt in original order, n_lines, n_dropped).
    """
    join_sep = sep.replace("\\n", "\n")
    if engine == "pandas":
        import re as _re

        import pandas as pd

        from solar_data_tools_spark.shipping import (
            ensure_package_on_executors,
        )

        ensure_package_on_executors(docs.sparkSession)
        id_type = dict(docs.select(id_col).dtypes)[id_col]
        schema = (
            f"{id_col} {id_type}, text string, n_lines long, "
            "n_dropped long"
        )
        pat = _re.compile(sep)
        min_c = int(min_line_chars)

        def _dedup(batches):
            for pdf in batches:
                ids, texts, nl, nd = [], [], [], []
                for i, t in zip(pdf[id_col], pdf[text_col]):
                    units = pat.split(t if t is not None else "")
                    seen: set = set()
                    kept = []
                    dropped = 0
                    for u in units:
                        tu = u.strip()
                        if len(tu) < min_c:
                            kept.append(u)
                        elif tu in seen:
                            dropped += 1
                        else:
                            seen.add(tu)
                            kept.append(u)
                    ids.append(i)
                    texts.append(join_sep.join(kept))
                    nl.append(len(units))
                    nd.append(dropped)
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "text": texts,
                        "n_lines": nl,
                        "n_dropped": nd,
                    }
                )

        return docs.select(id_col, text_col).mapInPandas(_dedup, schema)
    if engine != "expr":
        raise ValueError(f"unknown engine {engine!r}")
    lines = f"split({text_col}, '{sep}')"
    trimmed = f"transform({lines}, y -> trim(y))"
    kept = (
        f"filter({lines}, (x, i) -> length(trim(x)) < {int(min_line_chars)}"
        f" or array_position({trimmed}, trim(x)) - 1 = i)"
    )
    return docs.select(
        F.col(id_col),
        F.expr(f"array_join({kept}, '{join_sep}')").alias("text"),
        F.expr(f"size({lines})").cast("long").alias("n_lines"),
        (
            F.expr(f"size({lines})") - F.expr(f"size({kept})")
        ).cast("long").alias("n_dropped"),
    )

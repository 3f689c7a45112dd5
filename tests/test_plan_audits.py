"""Executable plan audits for the headline relational queries: the
"Catalyst does the work" claims (predicate pushdown, column pruning,
broadcast dim joins, map-side partial aggregation, whole-stage codegen)
asserted against the formatted physical plan, not just stated in docs.
"""

from __future__ import annotations

import contextlib
import io

from solar_data_tools_spark.registry import QUERIES


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q01_pushdown_pruning_codegen(spark, sf_small):
    plan = _formatted_plan(QUERIES["q01_pricing_summary"].fn(spark, sf_small))
    # the shipdate predicate must reach the parquet scan...
    assert "PushedFilters" in plan and "l_shipdate" in plan.split(
        "PushedFilters"
    )[1].split("\n")[0]
    # ...and the scan must NOT read all 16 lineitem columns
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema
    # aggregation happens inside whole-stage codegen (simple-mode string;
    # the formatted mode doesn't print codegen spans)
    df = QUERIES["q01_pricing_summary"].fn(spark, sf_small)
    df.collect()  # AQE finalizes the plan only on execution
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark whole-stage-codegen spans in the plan string;
    # partial_sum proves map-side combine before the shuffle
    assert "*(" in exec_plan and "partial_sum" in exec_plan
    # partial + final aggregate (map-side combine before the shuffle)
    assert plan.count("HashAggregate") >= 2


def test_q02_broadcasts_dimension_tables(spark, sf_small):
    plan = _formatted_plan(QUERIES["q02_revenue_by_nation"].fn(spark, sf_small))
    # nation/region/customer-side dims must broadcast, never sort-merge
    assert "BroadcastHashJoin" in plan


def test_q10_daily_energy_single_shuffle(spark, sf_small):
    plan = _formatted_plan(QUERIES["q10_daily_energy"].fn(spark, sf_small))
    # one wide groupBy(site, date): partial agg + exactly one exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") <= 2  # agg shuffle (+ optional AQE read)


def test_q45_self_join_reuses_posting_exchange(spark, sf_small):
    """The dedup self-joins must compute the exploded posting ONCE: the
    executed plan has to contain a ReusedExchange (both join sides share
    one shuffle subplan) — the pre-fix plan planned the Generate per
    side (and broadcast one full posting at small scale)."""
    df = QUERIES["q45_ngram_jaccard"].fn(spark, sf_small)
    df.collect()  # AQE finalizes reuse only on execution
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in exec_plan


def test_q45_sizes_join_not_forced_broadcast(spark, sf_small):
    """The per-document `sizes` table must NOT carry a mandatory broadcast
    hint: one row per doc means tens of GB at 10^8-10^9 docs, which a
    forced F.broadcast() would pin on the driver and every executor. The
    optimized logical plan therefore must contain no broadcast join hint —
    AQE is still free to broadcast-convert at runtime when the side
    measures small (which is the correct, scale-adaptive behavior)."""
    df = QUERIES["q45_ngram_jaccard"].fn(spark, sf_small)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in logical
    df.collect()
    # reuse contract from the companion test still holds post-change
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in exec_plan


def test_q47_banded_join_reuses_signature_exchange(spark, sf_small):
    """Same reuse contract for the MinHash banded self-join: the 64-hash
    signature computation must not run once per join side."""
    df = QUERIES["q47_minhash_near_dups"].fn(spark, sf_small)
    df.collect()
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in exec_plan


def test_q118_media_chain_is_shuffle_free(spark, sf_small):
    """Payload synthesis and frame sampling chain inside ONE stage: the
    media bytes must never cross an exchange (the property that keeps
    the multimodal layer viable when payloads are MBs, not KBs)."""
    plan = _formatted_plan(QUERIES["q118_media_frames"].fn(spark, sf_small))
    assert "Exchange" not in plan
    # 2 nodes (synth + sample), each printed twice by formatted mode
    assert plan.count("MapInPandas") == 4


def test_q119_resize_chain_is_shuffle_free(spark, sf_small):
    plan = _formatted_plan(QUERIES["q119_media_resize"].fn(spark, sf_small))
    assert "Exchange" not in plan


def test_q132_q135_study_sweep_plan_shape(spark, sf_small):
    """The profiler study sweeps must be pure built-in plans: no Python
    eval nodes, the config grid joined by BROADCAST (a literal dozen
    rows — never a shuffle of the daily table against it), and at most
    three real exchanges (raw->(site,date) window+agg, daily->site
    median window, final (site,config) agg)."""
    for q in ("q132_latitude_study", "q135_longitude_study_closed"):
        df = QUERIES[q].fn(spark, sf_small)
        df.collect()
        exec_plan = (
            df._jdf.queryExecution().executedPlan().toString()
        ).split("Initial Plan")[0]
        assert "EvalPython" not in exec_plan and "MapInPandas" not in exec_plan
        assert "BroadcastNestedLoopJoin" in exec_plan  # grid cross join
        n_shuffles = exec_plan.count("Exchange ") - exec_plan.count(
            "BroadcastExchange"
        ) - exec_plan.count("ReusedExchange")
        assert n_shuffles <= 4, (q, n_shuffles)


def test_grouped_apply_survives_aqe(spark):
    """grouped_apply's plan-owned parallelism must survive AQE partition
    coalescing WITHOUT any minPartitionSize override: the explicit
    repartitionByRange(n, keys) keeps the REPARTITION_BY_NUM origin that
    AQE never coalesces, so a tiny (few-hundred-KB) solver shuffle still
    fans out to the requested task count."""
    import pandas as pd

    from pyspark.sql import functions as F

    from solar_data_tools_spark.parallel import grouped_apply

    assert (
        spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )
        == "true"
    )
    df = spark.range(2000).select(
        (F.col("id") % 64).alias("site"), F.col("id").cast("double").alias("v")
    )
    out = grouped_apply(
        df, ["site"],
        lambda g: pd.DataFrame({"site": [g["site"].iloc[0]], "n": [len(g)]}),
        "site long, n long",
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan
    # AQE must not have rewritten the exchange into a coalesced read
    assert "AQEShuffleRead" not in plan or "coalesced" not in plan


def test_grouped_apply_puts_each_site_in_its_own_partition(spark):
    """Two sites at the session's partition count run in two distinct
    partitions (range bounds come from the sampled keys), so a two-site
    fleet keeps both cores busy instead of queuing both solves in one
    task."""
    import pandas as pd

    from pyspark import TaskContext
    from pyspark.sql import functions as F

    from solar_data_tools_spark.parallel import grouped_apply

    df = spark.range(2000).select(
        (F.col("id") % 2).alias("site"), F.col("id").cast("double").alias("v")
    )
    out = grouped_apply(
        df, ["site"],
        lambda g: pd.DataFrame({
            "site": [g["site"].iloc[0]],
            "part": [TaskContext.get().partitionId()],
        }),
        "site long, part int",
    )
    parts = {r["site"]: r["part"] for r in out.collect()}
    assert sorted(parts) == [0, 1]
    assert parts[0] != parts[1]


def _measurements(spark, path):
    """Two 15-min sites over 3 days plus a site under the min-data
    guard, written to parquet so the measurement scan is a named
    relation in the plans."""
    import pandas as pd

    rows = [
        (site, pd.Timestamp("2024-03-01") + pd.Timedelta(minutes=15 * i),
         i, float(i % 96))
        for site in (0, 1) for i in range(3 * 96)
    ] + [(2, pd.Timestamp("2024-03-01"), 0, 1.0)]
    pd.DataFrame(rows, columns=["site", "ts", "seq", "value"]).to_parquet(
        path, coerce_timestamps="us"
    )
    return spark.read.parquet(str(path))


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pipeline_sampling_follows_materialize(spark, tmp_path):
    """run_pipeline(per_site=True).sampling is a checkpoint read under
    materialize="local" — its readers scan a site-sized table instead of
    re-running the lag-window inference over the raw rows — and stays
    the lazy window + aggregate under "none"."""
    from solar_data_tools_spark.plans.pipeline import run_pipeline

    meas = _measurements(spark, tmp_path / "m.parquet")
    local = _optimized(
        run_pipeline(meas, per_site=True, materialize="local").sampling
    )
    lazy = _optimized(
        run_pipeline(meas, per_site=True, materialize="none").sampling
    )
    assert local.lstrip().startswith("LogicalRDD"), local
    assert "Window" not in local and "Aggregate" not in local
    assert "Window" in lazy and "Aggregate" in lazy and "parquet" in lazy


def test_fleet_bad_sites_follow_materialize(spark, tmp_path, monkeypatch):
    """The fleet's min-data guard table (read by the good-site filter and
    by the report's failed rows) is a checkpoint read under
    materialize="local" and the lazy aggregate over the measurement scan
    under "none"."""
    from solar_data_tools_spark.plans import fleet

    meas = _measurements(spark, tmp_path / "m.parquet")
    fleet_materialize = fleet.materialize_df
    made = []

    def recording(df, mode):
        out = fleet_materialize(df, mode)
        made.append(out)
        return out

    monkeypatch.setattr(fleet, "materialize_df", recording)
    plans = {}
    for mode in ("local", "none"):
        made.clear()
        fleet.run_fleet_pipeline(meas, materialize=mode)
        (bad,) = [df for df in made if "get_data_error" in df.columns]
        plans[mode] = _optimized(bad)
    assert plans["local"].lstrip().startswith("LogicalRDD"), plans["local"]
    assert "Aggregate" not in plans["local"]
    assert "Aggregate" in plans["none"] and "parquet" in plans["none"]


def test_pq_encode_is_zero_shuffle_both_engines(spark, sf_small):
    """PQ encode must be a shuffle-free projection over the scan in BOTH
    engines; the expr engine must additionally be Python-free (the
    pandas engine is Arrow-batched Python by design — the scale path,
    since HOF lambdas run interpreted)."""
    from solar_data_tools_spark.operators import pq as pqm

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    books = pqm.train_pq_codebooks(emb, m=8, k=16, sample_cap=16, n_iters=0)
    expr_plan = _formatted_plan(pqm.pq_encode(emb, books, engine="expr"))
    assert "Exchange" not in expr_plan
    assert "EvalPython" not in expr_plan
    pandas_plan = _formatted_plan(pqm.pq_encode(emb, books, engine="pandas"))
    assert "Exchange" not in pandas_plan


def test_pq_adc_search_broadcasts_query_lut(spark, sf_small):
    """ADC search: the per-query LUT side must broadcast (never shuffle
    the codes table for the join); the only exchange is the final
    per-query top-k window."""
    from pyspark.sql import functions as F

    from solar_data_tools_spark.operators import pq as pqm

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    books = pqm.train_pq_codebooks(emb, m=8, k=16, sample_cap=16, n_iters=0)
    codes = pqm.pq_encode(emb, books, engine="expr")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = _formatted_plan(pqm.pq_adc_topk(codes, q, books, k=5))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # codes side: no hash-partition exchange before the join; the one
    # hashpartitioning exchange belongs to the rank window
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "EvalPython" not in plan  # expr codes + unrolled ADC sum


def test_blocklist_mark_is_zero_shuffle(spark):
    from pyspark.sql import Row

    from solar_data_tools_spark.operators import urls as ur

    df = spark.createDataFrame([Row(doc_id=0, url="https://a.b.com/x")])
    plan = _formatted_plan(ur.blocklist_mark(df, ["b.com"]))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_dsir_ratio_table_broadcasts(spark, sf_small):
    """The DSIR log-ratio table is hash-grained (<= n_features rows) and
    must reach the per-doc counts as a broadcast, never a shuffle of the
    corpus-side feature triples for that join."""
    from pyspark.sql import functions as F

    from solar_data_tools_spark.operators.curation import (
        dsir_importance_weights,
    )
    from solar_data_tools_spark.session import read_table

    docs = read_table(spark, f"{sf_small}/documents.parquet")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    out = dsir_importance_weights(
        docs, docs.where(F.col("lang") == "en"), n_features=2048
    )
    # the empty-target guard is folded into the log-ratio expression:
    # constructing the plan must launch ZERO Spark jobs (the old
    # isEmpty() guard cost one eager job per call on the hot path)
    assert set(tracker.getJobIdsForGroup()) == before
    plan = _formatted_plan(out)
    assert "BroadcastExchange" in plan
    assert "EvalPython" not in plan


def test_bm25_query_terms_broadcast_no_cartesian(spark, sf_small):
    """q162: the query-term table must broadcast onto the postings (the
    corpus never joins anything bigger than the vocabulary) and the plan
    must contain no cartesian/nested-loop join."""
    plan = _formatted_plan(QUERIES["q162_bm25_topk"].fn(spark, sf_small))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # exactly ONE nested-loop join is expected and correct: the 1-row
    # (n_docs, avgdl) scalar table cross-joins by broadcast; anything
    # more would mean a real unkeyed join crept in (formatted mode
    # prints each node twice — header list + detail section)
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_semantic_decontaminate_corpus_never_shuffles(spark, sf_small):
    """q159: the eval matrix is a task closure, so the train corpus must
    reach its verdicts without ANY exchange (pure mapInPandas scan)."""
    from pyspark.sql import functions as F

    from solar_data_tools_spark.operators.similarity import (
        semantic_decontaminate,
    )
    from solar_data_tools_spark.session import read_table

    emb = read_table(spark, f"{sf_small}/embeddings.parquet")
    out = semantic_decontaminate(
        emb.where(F.col("vec_id") % 41 != 0),
        emb.where(F.col("vec_id") % 41 == 0),
        tau=0.35,
    )
    plan = _formatted_plan(out)
    assert "Exchange" not in plan


def test_cms_build_is_one_partial_agg(spark, sf_small):
    """q163: the sketch aggregate must show a partial (map-side) hash
    aggregate before the exchange — each task emits at most depth*width
    rows no matter how much text it scanned."""
    from solar_data_tools_spark.operators.sketches import cms_build
    from solar_data_tools_spark.session import read_table

    docs = read_table(spark, f"{sf_small}/documents.parquet")
    plan = _formatted_plan(cms_build(docs, width=128, depth=4))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "EvalPython" not in plan


def test_hll_build_is_one_partial_agg(spark, sf_small):
    """q170: the register aggregate must map-side combine — each task
    emits at most 2^p rows however many shingles it scanned — and stay
    entirely JVM-side."""
    from solar_data_tools_spark.operators.dedup import word_ngrams
    from solar_data_tools_spark.operators.sketches import hll_build
    from solar_data_tools_spark.session import read_table

    docs = read_table(spark, f"{sf_small}/documents.parquet")
    grams = word_ngrams(docs, n=3, id_col="source")
    plan = _formatted_plan(
        hll_build(grams, token_col="shingle", group_cols=["source"], p=10)
    )
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "EvalPython" not in plan


def test_bloom_probe_broadcasts_filter(spark, sf_small):
    """q172: the filter words must broadcast onto the probe grams (the
    corpus side never shuffles for the membership check)."""
    from pyspark.sql import functions as F

    from solar_data_tools_spark.operators.dedup import word_ngrams
    from solar_data_tools_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )
    from solar_data_tools_spark.session import read_table

    docs = read_table(spark, f"{sf_small}/documents.parquet")
    ev = word_ngrams(
        docs.where(F.col("doc_id") % 19 == 0), n=8
    ).select("shingle").distinct()
    tr = word_ngrams(
        docs.where(F.col("doc_id") % 19 != 0), n=8
    ).select("shingle").distinct()
    bloom = bloom_build(ev, token_col="shingle", num_bits=1 << 16)
    plan = _formatted_plan(
        bloom_probe(bloom, tr, token_col="shingle", num_bits=1 << 16)
    )
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_weighted_sample_is_take_ordered_no_python(spark, sf_small):
    """q171: the global top-k must run as TakeOrdered (per-partition
    heaps + driver merge of k-row heads), never a global sort shuffle,
    and the whole fixed-point noise chain must stay JVM-side."""
    from pyspark.sql import functions as F

    from solar_data_tools_spark.operators.sampling import (
        weighted_sample_without_replacement,
    )
    from solar_data_tools_spark.session import read_table

    docs = read_table(spark, f"{sf_small}/documents.parquet").select(
        "doc_id", (F.col("n_chars") + F.lit(1)).cast("long").alias("w")
    )
    out = weighted_sample_without_replacement(
        docs, k=25, weight_col="w", id_col="doc_id"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_q148_pagerank_iteration_plan_shape(spark, sf_small):
    """The PageRank loop's scale claims, asserted on the plan (round
    11): per iteration ONE wide shuffle (the (dst, contribution)
    groupBy) with map-side partial integer sums, degree/dangling sides
    broadcast, no cartesian product, and no Python evaluation anywhere
    (the trajectory is all-LONG codegen). The 5-iteration plan must
    therefore stay within a bounded Exchange budget instead of growing
    a hidden extra shuffle per round."""
    from pyspark.sql import functions as F

    from solar_data_tools_spark.operators.graph import pagerank
    from solar_data_tools_spark.session import read_table

    # checkpoint=False keeps the iteration lineage visible (q148's own
    # plan is an opaque Scan ExistingRDD after localCheckpoint)
    docs = read_table(spark, f"{sf_small}/documents.parquet").select(
        "doc_id"
    )
    edges = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") + 1) % 500).alias("dst"),
    )
    df = pagerank(edges, n_iters=2, fixed_point=True, checkpoint=False)
    plan = _formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # map-side combine on the contribution sum (partial before the
    # shuffle) — the single wide op per iteration
    assert "partial_sum" in plan
    # r13: the ring graph has no dangling nodes, so the static
    # dangling probe removes the per-iteration mass scalar (and its
    # broadcast nested-loop crossJoin) from the plan entirely
    assert "BroadcastNestedLoopJoin" not in plan
    # bounded shuffle budget: the wide exchanges must not exceed
    # ~3 per iteration (contribution agg + rank rebuild joins); a
    # hidden extra shuffle per round would break this
    wide = plan.count("Exchange hashpartitioning")
    assert wide <= 8, f"{wide} wide exchanges for 2 iterations"

    # a graph WITH a dangling node keeps the per-iteration scalar: the
    # 1-row dangling crossJoin rides a broadcast nested-loop as before
    dangling_edges = docs.limit(10).select(
        F.col("doc_id").alias("src"),
        (F.col("doc_id") + 1).alias("dst"),  # last dst has no out-edge
    )
    df2 = pagerank(
        dangling_edges, n_iters=1, fixed_point=True, checkpoint=False
    )
    plan2 = _formatted_plan(df2)
    assert "BroadcastNestedLoopJoin" in plan2


def test_minhash_incremental_store_scan_pruned(spark, sf_small, tmp_path):
    """The incremental near-dup's 100 TB contract, audited in the plan:
    the persisted store's parquet scan must read ONLY the columns the
    join needs (a fat payload column a real store carries — crawl
    metadata, fetch dates — must be pruned), and no stage may fall back
    to a cartesian/nested-loop join or a Python eval."""
    from solar_data_tools_spark.operators.dedup import (
        minhash_incremental_dedup,
        minhash_signatures,
    )

    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    hist = docs.where(F.col("doc_id") < 250)
    new = docs.where(F.col("doc_id") >= 250)
    store_dir = str(tmp_path / "sig_store")
    minhash_signatures(
        hist, 64, 1, token_hash="md5_u31"
    ).withColumn(
        "crawl_meta", F.repeat(F.lit("x"), 500)  # the fat payload
    ).write.parquet(store_dir)
    store = spark.read.parquet(store_dir)

    out = minhash_incremental_dedup(
        new, store, num_hashes=64, bands=8, n=1, token_hash="md5_u31",
        materialize="none",  # keep the full lineage visible
    )
    plan = _formatted_plan(out)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the store-side parquet scans must prune the payload column
    for chunk in plan.split("Scan parquet"):
        if "sig_store" in chunk and "ReadSchema" in chunk:
            schema_line = [
                ln for ln in chunk.splitlines() if "ReadSchema" in ln
            ][0]
            assert "crawl_meta" not in schema_line, schema_line

def test_ingest_dump_text_stages_plan(spark, sf_small, tmp_path):
    """The composed per-dump job's 100 TB contract (quality + exact +
    MinHash stages): no cartesian/nested-loop fallback, no Python eval
    anywhere (every stage is codegen built-ins), and the persisted
    signature store's scan prunes a fat payload column — the composition
    must not defeat the standalone operator's pruning. (The embedding
    stage is audited separately: method='exact' is a theta join BY
    DESIGN — the oracle vehicle — and the LSH path's plan is covered by
    the standalone lsh audits.)"""
    from pyspark.sql import functions as F

    from solar_data_tools_spark.operators.dedup import (
        minhash_signatures,
        normalize_text,
    )
    from solar_data_tools_spark.plans.ingest import ingest_dump

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    hist = docs.where(F.col("doc_id") < 250)
    new = docs.where(F.col("doc_id") >= 250)
    store_dir = str(tmp_path / "ingest_sig_store")
    minhash_signatures(
        hist, 64, 1, token_hash="md5_u31"
    ).withColumn(
        "crawl_meta", F.repeat(F.lit("x"), 500)
    ).write.parquet(store_dir)

    out = ingest_dump(
        new.select("doc_id", "text"),
        exact_store=hist.select(
            F.md5(normalize_text(F.col("text"))).alias("content_md5")
        ),
        minhash_store=spark.read.parquet(store_dir),
        quality_filter=F.length("text") >= 10,
        num_hashes=64, bands=8, n=1, token_hash="md5_u31",
        materialize="none",  # keep the full lineage visible
    )
    plan = _formatted_plan(out["verdicts"])
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for chunk in plan.split("Scan parquet"):
        if "ingest_sig_store" in chunk and "ReadSchema" in chunk:
            schema_line = [
                ln for ln in chunk.splitlines() if "ReadSchema" in ln
            ][0]
            assert "crawl_meta" not in schema_line, schema_line

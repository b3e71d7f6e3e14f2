"""Physical-plan regression tests: the scale properties the engine
claims (broadcast dimension joins, parquet filter pushdown, column
pruning, top-k as TakeOrderedAndProject) asserted on the executed
plans, so a refactor that silently degrades a 100 TB plan — e.g. a
broadcast join falling back to sort-merge, or a scan reading all
columns — fails CI rather than only showing up in the benchmark."""

from __future__ import annotations

import __spark_entry__ as entrymod
import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_enrichment_join_broadcasts_dimension(spark, sf0001):
    plan = _plan(entrymod.queries()["enrichment_join"](spark, sf0001))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_two_step_lookup_broadcasts(spark, sf0001):
    plan = _plan(entrymod.queries()["two_step_lookup"](spark, sf0001))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_watermark_filter_pushed_to_scan(spark, sf0001):
    plan = _plan(entrymod.queries()["watermark_incremental"](spark, sf0001))
    # the ts > watermark predicate must reach the parquet reader so
    # row groups outside the window are skipped via min/max stats
    assert "PushedFilters: [" in plan
    assert "IsNotNull(ts)" in plan or "GreaterThan(ts" in plan


def test_point_lookup_pushes_equality(spark, sf0001):
    plan = _plan(entrymod.queries()["point_lookup"](spark, sf0001))
    assert "EqualTo" in plan


def test_pagination_compiles_to_take_ordered(spark, sf0001):
    plan = _plan(entrymod.queries()["pagination"](spark, sf0001))
    # global sort+limit must NOT be a full Sort exchange: Spark's
    # TakeOrderedAndProject keeps only (limit+offset) rows per
    # partition before the single-reduce merge
    assert "TakeOrderedAndProject" in plan


def test_market_stats_prunes_columns(spark, sf0001):
    plan = _plan(entrymod.queries()["market_stats"](spark, sf0001))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # only the three referenced lineitem columns may be read
    assert "l_suppkey" in scan and "l_quantity" in scan
    assert "l_comment" not in scan and "l_partkey" not in scan


def test_market_stats_partial_aggregation(spark, sf0001):
    plan = _plan(entrymod.queries()["market_stats"](spark, sf0001))
    # map-side partial + final: two HashAggregate nodes around the
    # exchange, so the shuffle carries one row per (partition, key)
    assert plan.count("HashAggregate") >= 2


def test_quality_filter_whole_stage_codegen(spark, sf0001):
    plan = _plan(entrymod.queries()["quality_filter"](spark, sf0001))
    # "*(n)" prefixes mark operators fused into a WholeStageCodegen span
    assert "*(1)" in plan


def test_bucketed_join_is_exchange_free(spark, sf0001, tmp_path):
    from pyspark.sql import functions as F

    from projet_big_data_boutin_danre_spark.sources.bucketing import (
        bucketed_join,
        write_bucketed,
    )
    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    orders = load_table(spark, sf0001, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    lineitem = load_table(spark, sf0001, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed(orders, "b_orders", ["o_orderkey"], num_buckets=4,
                   sort_cols=["o_orderkey"])
    write_bucketed(lineitem, "b_lineitem", ["o_orderkey"], num_buckets=4,
                   sort_cols=["o_orderkey"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the at-scale shape: tiny sf0.001 tables would broadcast,
        # but a 100 TB fact join is sort-merge — which bucketing makes
        # exchange-free
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "b_orders", "b_lineitem", ["o_orderkey"])
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        # the whole point: both sides read pre-partitioned, no shuffle
        assert "Exchange" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_interval_join_avoids_nested_loop(spark, sf0001):
    plan = _plan(entrymod.queries()["interval_join"](spark, sf0001))
    # the binned equi-join must plan as a hash join; a raw BETWEEN
    # theta-join would be BroadcastNestedLoopJoin (O(n*m))
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_cosine_topk_cogroup_no_driver_collect(spark, sf0001):
    """The distributed-query path must keep BOTH sides in the plan —
    a query side that was collect()ed to the driver would appear as
    closure constants with a single corpus scan."""
    from pyspark.sql import functions as F

    from projet_big_data_boutin_danre_spark.operators import similarity
    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    emb = load_table(spark, sf0001, "embeddings")
    out = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") % 2 == 0), k=3, mode="cogroup"
    )
    plan = _plan(out)
    assert "FlatMapCoGroupsInPandas" in plan
    # two embeddings scans: corpus + query side both distributed
    assert plan.count("FileScan parquet") == 2


def test_cosine_topk_auto_picks_cogroup_and_matches_closure(spark, sf0001):
    from pyspark.sql import functions as F

    from projet_big_data_boutin_danre_spark.operators import similarity
    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    emb = load_table(spark, sf0001, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)  # 100 > default 64
    auto = similarity.cosine_topk(emb, queries, k=3, mode="auto")
    assert "FlatMapCoGroupsInPandas" in _plan(auto)
    closure = similarity.cosine_topk(emb, queries, k=3, mode="closure")
    # bit-identical scores across physical strategies
    a = sorted(map(tuple, auto.collect()))
    c = sorted(map(tuple, closure.collect()))
    assert a == c


def test_cosine_topk_grid_no_collect_and_matches_closure(spark, sf0001):
    """The grid (block-decomposition) path: both sides in the plan, no
    driver collect, scores bit-identical to the closure path."""
    from pyspark.sql import functions as F

    from projet_big_data_boutin_danre_spark.operators import similarity
    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    emb = load_table(spark, sf0001, "embeddings")
    queries = emb.filter(F.col("vec_id") % 3 == 0)
    grid = similarity.cosine_topk(emb, queries, k=3, mode="grid")
    plan = _plan(grid)
    assert "FlatMapCoGroupsInPandas" in plan
    assert plan.count("FileScan parquet") == 2
    closure = similarity.cosine_topk(emb, queries, k=3, mode="closure")
    g = sorted(map(tuple, grid.collect()))
    c = sorted(map(tuple, closure.collect()))
    assert g == c and len(g) > 0


def test_ann_lsh_join_no_driver_collect(spark, sf0001):
    """VERDICT r3 #2: the ANN join path must keep both sides in the
    plan (bucket computed as Column algebra on each) — no query-side
    collect, and no replication either: candidates meet by cogrouping
    on the bucket key."""
    from pyspark.sql import functions as F

    from projet_big_data_boutin_danre_spark.operators import similarity
    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    emb = load_table(spark, sf0001, "embeddings")
    out = similarity.ann_topk_lsh(
        emb, emb.filter(F.col("vec_id") % 2 == 0), k=3, mode="join"
    )
    plan = _plan(out)
    assert "FlatMapCoGroupsInPandas" in plan
    # two embeddings scans: corpus + query side both distributed
    assert plan.count("FileScan parquet") == 2
    # no explode/sequence replication (unlike the cosine cogroup)
    assert "Generate explode" not in plan


def test_ann_lsh_auto_picks_join_and_matches_closure(spark, sf0001):
    from pyspark.sql import functions as F

    from projet_big_data_boutin_danre_spark.operators import similarity
    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    emb = load_table(spark, sf0001, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)  # 100 > default 64
    auto = similarity.ann_topk_lsh(emb, queries, k=3, mode="auto")
    assert "FlatMapCoGroupsInPandas" in _plan(auto)
    closure = similarity.ann_topk_lsh(emb, queries, k=3, mode="closure")
    # bit-identical (bucket sign bits AND scores) across strategies
    a = sorted(map(tuple, auto.collect()))
    c = sorted(map(tuple, closure.collect()))
    assert a == c and len(a) > 0


def test_aqe_splits_skewed_join_partition(spark, sf0001):
    """VERDICT r3 #7 (skew probe): with one key owning ~50% of the fact
    rows, AQE's skew-join must split the hot partition instead of
    letting one task carry half the table. Thresholds are lowered so
    test-scale data crosses them; the assertion is the skew=true
    marker on the sort-merge join in the FINAL adaptive plan."""
    from pyspark.sql import functions as F

    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # repartition: a skewed REDUCE partition is split by regrouping
        # its MAP outputs, so the probe needs >1 mapper (the sf0.001
        # file is a single split; any real-scale scan has many)
        li = load_table(spark, sf0001, "lineitem").repartition(16)
        # one mega-key (~50% of rows), the rest spread over 1000 keys
        skewed = li.withColumn(
            "k",
            F.when(F.col("l_orderkey") % 2 == 0, F.lit(1)).otherwise(
                F.pmod(F.hash("l_orderkey"), F.lit(1000)) + F.lit(2)
            ),
        )
        dim = spark.range(1, 1002).select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        joined = skewed.join(dim, "k").select("k", "l_quantity", "payload")
        # execute THIS Dataset so its own adaptive plan finalizes
        # (count() would plan a separate aggregate query)
        assert len(joined.collect()) == li.count()
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final_plan
        assert "skew=true" in final_plan, final_plan[:2000]
        assert "AQEShuffleRead skewed" in final_plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_exact_dedup_single_shuffle(spark, sf0001):
    # the exact-dedup OPERATOR stays single-shuffle; the exact_dedup
    # SLOT is a tagged union since r5 (group + duplicated-span halves)
    # so the slot-level pin moved to the operator
    from projet_big_data_boutin_danre_spark.operators import dedup
    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    docs = load_table(spark, sf0001, "documents")
    plan = _plan(dedup.exact_dedup_stats(docs, "doc_id", "text"))
    # hash + groupBy must shuffle exactly once (on content_hash)
    assert plan.count("Exchange hashpartitioning") == 1
    # and the widened slot stays free of scale smells
    slot = _plan(entrymod.queries()["exact_dedup"](spark, sf0001))
    assert "CartesianProduct" not in slot
    assert "BatchEvalPython" not in slot


def test_partition_pruning_on_day_partitioned_layer(spark, tmp_path):
    """A run_day filter on a day-partitioned layer must prune at the
    scan (PartitionFilters), reading only the matching directory —
    the mechanism that makes the datalake layers cheap at 100 TB."""
    from pyspark.sql import functions as F

    from projet_big_data_boutin_danre_spark.sources.sinks import write_parquet

    out = str(tmp_path / "day_lake")
    df = spark.range(100).withColumn(
        "ds", F.when(F.col("id") % 2 == 0, "20250101").otherwise("20250102")
    )
    write_parquet(df, out, partition_by=("ds",))
    pruned = spark.read.parquet(out).filter(F.col("ds") == "20250101")
    plan = _plan(pruned)
    assert "PartitionFilters" in plan and "20250101" in plan
    # the pruning predicate sits in PartitionFilters (metadata-only,
    # applied before any file is opened), NOT in PushedFilters
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    pf = scan.split("PartitionFilters: [", 1)[1]
    assert "20250101" in pf.split("]", 1)[0]
    assert pruned.count() == 50


def test_near_dup_lsh_uses_arrow_kernel_no_collect(spark, sf0001):
    """r5: the self-blocking LSH near-dup path computes bucket bits in
    the Arrow numpy kernel (MapInPandas), not the per-row Column-HOF
    fold (r4 verdict #1) — and keeps everything in the plan: one
    embeddings scan, one Arrow bucket stage feeding one grouped-map
    pair stage, no driver collect."""
    from projet_big_data_boutin_danre_spark.operators import similarity
    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    emb = load_table(spark, sf0001, "embeddings")
    out = similarity.near_dup_pairs_cosine_lsh(
        emb, "vec_id", "embedding", threshold=0.25, n_planes=8, dim=64
    )
    plan = _plan(out)
    assert plan.count("FileScan parquet") == 1
    assert "MapInPandas" in plan           # Arrow bucket kernel
    assert "FlatMapGroupsInPandas" in plan  # per-block pair scoring
    # the HOF fold would show as a chain of `aggregate(` expressions
    assert "aggregate(" not in plan


def test_stratified_sample_is_scan_fused_filter(spark, sf0001):
    """The sampler must stay a map-only filter: no exchange anywhere
    in its plan (it combines with the scan at any scale)."""
    from projet_big_data_boutin_danre_spark.operators import corpus_prep
    from projet_big_data_boutin_danre_spark.sources.readers import load_table

    docs = load_table(spark, sf0001, "documents")
    df = corpus_prep.stratified_sample(
        docs, "doc_id", "lang", {"en": 0.5}, default_fraction=0.1
    )
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_corpus_sample_no_cartesian(spark, sf0001):
    plan = _plan(entrymod.queries()["corpus_sample"](spark, sf0001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sq8_rescore_joins_are_hash_joins(spark, sf0001):
    """The re-score stage must be equi-joins on the shortlist (hash or
    broadcast), never a nested loop; and the slot plan contains no
    driver collect (scalar subquery) on the corpus path."""
    plan = _plan(entrymod.queries()["cosine_topk"](spark, sf0001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_media_plans_prunes_payload(spark, sf0001):
    """resize/frame planning is metadata math — the binary payload
    column must NOT be read (ReadSchema excludes it)."""
    plan = _plan(entrymod.queries()["media_plans"](spark, sf0001))
    import re

    for m in re.finditer(r"ReadSchema: ([^\n]+)", plan):
        assert "payload" not in m.group(1)
        assert "text" not in m.group(1) or "n_chars" in m.group(1)


def test_runtime_bloom_filter_prunes_join_scan(spark, tmp_path):
    """100 TB join hygiene: for a selective dim joined to a huge fact
    with no broadcast, Spark's runtime bloom filter should inject a
    might_contain predicate on the fact scan so non-matching rows die
    at the scan instead of riding the shuffle. The application-side
    size threshold (default 10 GB — exactly the real-scale trigger) is
    lowered so test-scale data crosses it; the assertion is the
    injected bloom aggregate + probe in the physical plan."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "1KB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact_p = str(tmp_path / "fact")
        dim_p = str(tmp_path / "dim")
        spark.range(0, 200_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).write.mode("overwrite").parquet(fact_p)
        spark.range(0, 300).select(
            F.col("id").alias("k"), F.lit("x").alias("p")
        ).write.mode("overwrite").parquet(dim_p)
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter(F.col("p") == "x")
        joined = fact.join(dim, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        # and the result is right: every fact row with k < 300 survives
        assert joined.count() == 300
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_remaining_smjs_are_corpus_sized_by_design(spark, sf0001):
    """r7 SMJ audit: exactly two SortMergeJoins survive across the 50
    slots, both joins where BOTH sides are corpus-sized by design —
    broadcast would ship the corpus to every executor at 100 TB:

    - token_stats: the pack_sequences rollup (one row per doc off a
      range-repartitioned prefix-sum) left-joined back on doc_id;
    - corpus_sample: corpus_diff's FULL OUTER fingerprint join (full
      outer can never broadcast — unmatched rows on either side must
      surface).

    A third SMJ appearing in either slot means a bounded build side
    (df rollup, quantile bounds, keyword rollup) silently lost its
    broadcast — fail loudly."""
    plan = _plan(entrymod.queries()["token_stats"](spark, sf0001))
    smj = [l for l in plan.splitlines() if "SortMergeJoin" in l]
    assert len(smj) == 1, smj
    assert "LeftOuter" in smj[0] and "doc_id" in smj[0]

    plan = _plan(entrymod.queries()["corpus_sample"](spark, sf0001))
    smj = [l for l in plan.splitlines() if "SortMergeJoin" in l]
    assert len(smj) == 1, smj
    assert "FullOuter" in smj[0]


def test_lsh_seen_probe_broadcasts_batch_never_shuffles_history(
    spark, tmp_path
):
    """The cross-corpus near-dup probe's 100 TB contract: the
    HISTORY band layer is probed by a BroadcastHashJoin whose build
    side is the batch (history side never exchanges), and the layer
    scan prunes to the two key columns — id/text of history are never
    read."""
    from pyspark.sql import functions as F

    from projet_big_data_boutin_danre_spark.operators import dedup

    hist = spark.createDataFrame(
        [(i, f"history doc number {i} with some repeated body text")
         for i in range(50)],
        "doc_id long, text string",
    )
    bands = dedup.lsh_bands(
        dedup.minhash_signatures(hist, "doc_id", "text",
                                 hash_family="fast"),
        hash_family="fast",
    )
    layer = str(tmp_path / "band_buckets")
    bands.write.parquet(layer)
    batch = spark.createDataFrame(
        [(100, "history doc number 7 with some repeated body text")],
        "doc_id long, text string",
    )
    probe = dedup.lsh_seen_ids(
        batch, spark.read.parquet(layer), "doc_id", "text",
        hash_family="fast",
    )
    plan = _plan(probe)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # column pruning on the history scan (the only parquet scan in
    # this plan): band + band_key only — never the layer's id column
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan
    fields = {f.split(":")[0] for f in schemas[0].split(",") if f}
    assert fields == {"band", "band_key"}, schemas[0]
    # and it actually hits
    assert [r["doc_id"] for r in probe.collect()] == [100]


@pytest.mark.parametrize("probe", ["phash", "vhash", "audio"])
def test_media_seen_probes_broadcast_batch_never_shuffle_history(
    spark, tmp_path, probe
):
    """The media history probes keep the same contract as the text
    probe above: the sidecar read from Parquet is joined only by
    BroadcastHashJoin (the batch is the build side), with and without
    the hot-key cap and the mega-batch chunking."""
    from projet_big_data_boutin_danre_spark.operators import multimodal

    if probe == "phash":
        sidecar = spark.createDataFrame(
            [(i, i, i + 1, i + 2, i + 3) for i in range(8)],
            "media_id long, band0 int, band1 int, band2 int, band3 int",
        )
        batch = sidecar.filter("media_id < 1")
        run = multimodal.phash_seen_ids
    elif probe == "vhash":
        sidecar = spark.createDataFrame(
            [(i, 100 + i % 3, 2) for i in range(8)],
            "media_id long, hash64 long, n_frames long",
        )
        batch = sidecar.select("media_id", "hash64").filter("media_id < 3")
        run = multimodal.vhash_seen_ids
    else:
        sidecar = spark.createDataFrame(
            [(i, w, 1000 + w) for i in range(4) for w in range(3)],
            "media_id long, win_idx int, hash32 long",
        )
        batch = sidecar.filter("media_id < 1")
        run = multimodal.audio_seen_ids
    layer = str(tmp_path / f"{probe}_sidecar")
    sidecar.write.parquet(layer)
    for kw in ({}, {"max_bucket": 1, "max_broadcast_rows": 1}):
        plan = _plan(run(batch, spark.read.parquet(layer), **kw))
        assert "BroadcastHashJoin" in plan, kw
        assert "SortMergeJoin" not in plan, kw
        assert "ShuffledHashJoin" not in plan, kw


def test_lsh_seen_mega_batch_chunks_instead_of_lifting_broadcast(
    spark, tmp_path
):
    """r10: a batch whose bands frame outgrows ``max_broadcast_rows``
    is split into broadcast-sized chunks and the probe results
    unioned — identical candidate set (set-union semantics), and the
    history side STILL never shuffle-joins (the documented mega-batch
    fallback at operators/dedup.py:lsh_seen_ids, previously
    prose-only)."""
    from projet_big_data_boutin_danre_spark.operators import dedup

    hist = spark.createDataFrame(
        [(i, f"history doc number {i} with some repeated body text")
         for i in range(40)],
        "doc_id long, text string",
    )
    layer = str(tmp_path / "band_buckets_mb")
    dedup.lsh_bands(
        dedup.minhash_signatures(hist, "doc_id", "text",
                                 hash_family="fast"),
        hash_family="fast",
    ).write.parquet(layer)
    # 20-doc "mega" batch, half of them near-dups of history
    batch = spark.createDataFrame(
        [(100 + i,
          f"history doc number {i} with some repeated body text"
          if i % 2 == 0
          else f"completely fresh unseen payload variant {i}")
         for i in range(20)],
        "doc_id long, text string",
    )
    seen_b = spark.read.parquet(layer)
    want = {
        r["doc_id"]
        for r in dedup.lsh_seen_ids(
            batch, seen_b, "doc_id", "text", hash_family="fast",
            max_broadcast_rows=None,
        ).collect()
    }
    assert want  # the probe has real hits to compare
    chunked = dedup.lsh_seen_ids(
        batch, seen_b, "doc_id", "text", hash_family="fast",
        max_broadcast_rows=7,  # 20 docs * 4 bands = 80 rows -> 12 chunks
    )
    plan = _plan(chunked)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert {r["doc_id"] for r in chunked.collect()} == want


def test_drop_common_lines_text_never_shuffles(spark, sf0001):
    """Line dedup's scale claim asserted on the plan: every hash
    exchange carries only narrow columns (md5 keys, ids, positions)
    — the text/line strings reach exchanges NEVER; and the rebuild
    is UDF-free."""
    import re

    from projet_big_data_boutin_danre_spark.operators import dedup
    from projet_big_data_boutin_danre_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, sf0001, "documents").select("doc_id", "text")
    out = dedup.drop_common_lines(docs, "doc_id", "text")
    plan = _plan(out)
    assert "BatchEvalPython" not in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "text" not in keys and "__line" not in keys, keys
    # the partial/final census aggregation is hash-based (map-side
    # combine), not a sort aggregate
    assert "HashAggregate" in plan


def test_gopher_rules_is_shuffle_free_map(spark, sf0001):
    """The Gopher bundle must ride the scan: zero exchanges, zero
    UDFs, whole-stage codegen intact."""
    from projet_big_data_boutin_danre_spark.operators import text as t
    from projet_big_data_boutin_danre_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, sf0001, "documents").select("doc_id", "text")
    plan = _plan(t.gopher_rules(docs, "doc_id", "text"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    # "*(n)" prefixes mark operators fused into a WholeStageCodegen span
    assert "*(" in plan


def test_c4_dedup_rank_shuffle_is_narrow(spark, sf0001):
    """The C4 global-keeper rank must shuffle (md5 key, id, offsets)
    only — sentence text stays map-side; the sentence-offset windows
    partition BY DOC (no single-partition global window); no UDFs."""
    import re

    from projet_big_data_boutin_danre_spark.operators import dedup
    from projet_big_data_boutin_danre_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, sf0001, "documents").select("doc_id", "text")
    out = dedup.c4_sentence_dedup(docs, "doc_id", "text")
    plan = _plan(out)
    assert "BatchEvalPython" not in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "text" not in keys and "__s" not in keys.split(
            ","
        )[0], keys
    # every window spec is doc-partitioned: no "Window [" without a
    # partition clause sneaks a global sort in
    for m in re.finditer(r"windowspecdefinition\(([^,]*),", plan):
        assert "__id" in m.group(1) or "__k" in m.group(1), m.group(0)


def test_verify_candidate_broadcast_guard_switches_to_shuffle(
    spark, tmp_path
):
    """r17 (verdict #1): the near-dup verify stage's candidate frame
    carries per-pair-replicated shingle arrays, and WITHOUT
    ``lsh_max_bucket`` a band-saturated corpus grows it past driver
    memory — the measured 32M-doc broadcast OOM (SCALE.md §r16).
    ``verify_candidates_jaccard`` now pre-flights the replicated
    payload (Σ_pairs length(batch text)) and above
    ``max_broadcast_chars`` drops every broadcast hint so the SAME
    joins run shuffle-side: correct and spill-backed instead of
    crash-by-OOM. Pin both halves: (a) under the threshold the plan
    broadcasts (the 100 TB fast path intact), (b) over it the plan
    contains NO broadcast exchange and the verified id set is
    IDENTICAL."""
    from pyspark.sql import functions as F

    from projet_big_data_boutin_danre_spark.operators import dedup

    hist = spark.createDataFrame(
        [(i, f"history doc number {i} with some repeated body text")
         for i in range(30)],
        "doc_id long, text string",
    )
    layer = str(tmp_path / "band_layer_vg")
    dedup.lsh_bands(
        dedup.minhash_signatures(hist, "doc_id", "text",
                                 hash_family="fast"),
        hash_family="fast",
    ).write.parquet(layer)
    batch = spark.createDataFrame(
        [(100 + i,
          f"history doc number {i} with some repeated body text"
          if i % 3 == 0
          else f"completely fresh unseen payload variant {i}")
         for i in range(12)],
        "doc_id long, text string",
    )
    pairs = dedup.lsh_seen_ids(
        batch, spark.read.parquet(layer), "doc_id", "text",
        hash_family="fast", return_pairs=True,
    ).localCheckpoint()
    assert pairs.first() is not None  # real candidates to verify

    fast = dedup.verify_candidates_jaccard(
        batch, hist, pairs, "doc_id", "text", min_jaccard=0.5,
    )
    plan_fast = _plan(fast)
    assert "BroadcastHashJoin" in plan_fast
    want = {r["doc_id"] for r in fast.collect()}
    assert want  # near-identical texts must verify

    # Force the over-threshold regime; kill auto-broadcast so the
    # assertion sees the HINTS' absence, not Catalyst re-adding
    # broadcast for these tiny test frames on size estimates.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        slow = dedup.verify_candidates_jaccard(
            batch, hist, pairs, "doc_id", "text", min_jaccard=0.5,
            max_broadcast_chars=1,
        )
        plan_slow = _plan(slow)
        assert "BroadcastHashJoin" not in plan_slow
        assert "BroadcastExchange" not in plan_slow
        assert ("SortMergeJoin" in plan_slow
                or "ShuffledHashJoin" in plan_slow)
        assert {r["doc_id"] for r in slow.collect()} == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

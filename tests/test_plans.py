"""Physical-plan assertions — the scale properties SURVEY §4 calls out.
A query that silently loses predicate pushdown, broadcasts nothing, or
adds an extra window Exchange would still pass value checks; these tests
pin the plan shape itself."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from crypto_data_pipeline_with_kafka_spark.catalog import load_table, local_frame
from crypto_data_pipeline_with_kafka_spark.operators.indicators import (
    compute_indicators,
)
from crypto_data_pipeline_with_kafka_spark.plans.registry import all_queries
from tests.plan_checks import python_backed_nodes

SF = "/root/testdata/sf0.01"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filters_and_projection_reach_parquet_scan(spark):
    q = all_queries()["rel_project_conditional"]
    plan = plan_of(q.fn(spark, SF))
    assert "PushedFilters: [" in plan
    assert re.search(r"PushedFilters: \[.*GreaterThan\(l_discount", plan), plan
    # column pruning: the scan must read only the 6 referenced columns
    # (3 projected + discount/tax/shipdate), not all 11 lineitem columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 6, m.group(0) if m else plan


def test_dim_joins_broadcast(spark):
    q = all_queries()["rel_join_dim_chain"]
    plan = plan_of(q.fn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan


def test_indicators_single_window_exchange(spark):
    """All indicators share ONE partition+sort: exactly one shuffle
    Exchange in the whole plan (the reference's 4-branch union would
    plan 4 window sorts)."""
    events = load_table(spark, SF, "events")
    plan = plan_of(compute_indicators(events), "simple")
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert len(re.findall(r"\bSort\b", plan)) == 1, plan
    assert len(re.findall(r"\bWindow\b", plan)) == 2, plan  # lag + frame sums


def test_q1_partial_aggregation(spark):
    """Map-side partial agg before the shuffle (partial+final pattern)."""
    q = all_queries()["agg_q1"]
    plan = plan_of(q.fn(spark, SF), "simple")
    assert len(re.findall(r"HashAggregate", plan)) >= 2, plan


def test_topk_uses_take_ordered(spark):
    """Global ORDER BY + LIMIT must plan as TakeOrderedAndProject, not a
    full sort + limit."""
    q = all_queries()["sort_limit_top100"]
    plan = plan_of(q.fn(spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_no_python_udf_in_builtin_paths(spark):
    """Python runs only in queries tagged ``udf``. The oracle sweep
    asserts the JVM-only half for every untagged query; this test pins
    the tag from both sides with the same Python-backed-node check:
    the ``flagship`` queries (the reference's entry points) stay
    JVM-only, and every batch query tagged ``udf`` really plans Python,
    so the tag cannot become a stale exemption. A streaming ``udf``
    query runs its Python inside the stream at plan build, and the
    frame it returns reads the sink, so it is not checked here."""
    for name, q in all_queries().items():
        if "udf" not in q.tags and "flagship" in q.tags:
            nodes = python_backed_nodes(q.fn(spark, SF))
            assert not nodes, (name, nodes)
        elif "udf" in q.tags and "streaming" not in q.tags:
            assert python_backed_nodes(q.fn(spark, SF)), name


def test_python_check_sees_list_relations_behind_a_cache(spark):
    """The check flags a list-built relation even when a ``persist``
    hides it in an ``InMemoryRelation``'s cached plan, and passes the
    same rows built with ``local_frame``."""
    import pyspark.sql.functions as F

    rows = [("SMA", 1), ("RSI", 2)]
    ddl = "type_name string, type_id long"
    events = load_table(spark, SF, "events").select(
        F.lit("SMA").alias("type_name"), "user_id"
    )
    listed = events.join(
        F.broadcast(spark.createDataFrame(rows, ddl)), "type_name"
    ).persist()
    local = events.join(F.broadcast(local_frame(spark, rows, ddl)), "type_name")
    try:
        assert python_backed_nodes(listed.filter("user_id > 0")) == [
            "Scan ExistingRDD over PythonRDD"
        ]
        assert python_backed_nodes(local) == []
    finally:
        listed.unpersist()


def test_local_frame_exact_schema_and_rows(spark):
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("s", T.StringType(), False),
            T.StructField("i", T.IntegerType(), True),
            T.StructField("l", T.LongType(), False),
            T.StructField("d", T.DoubleType(), True),
        ]
    )
    rows = [("a", 1, 2**40, 0.5), ("b", None, -3, None)]
    df = local_frame(spark, rows, schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == rows
    # a DDL string gives the same types, every column nullable
    ddl = local_frame(spark, rows, "s string, i int, l long, d double")
    assert ddl.schema == T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in schema]
    )
    assert [tuple(r) for r in ddl.collect()] == rows


def test_local_frame_zero_rows(spark):
    import pyspark.sql.types as T

    ddl = "tag string, k1 string, k2 string, n long, v double"
    df = local_frame(spark, [], ddl)
    assert df.count() == 0
    assert df.schema == T.StructType.fromDDL(ddl)


def test_local_frame_plans_a_local_relation(spark):
    """The leaf is a JVM ``LocalRelation`` whether or not Arrow
    conversion is enabled for PySpark."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    try:
        for enabled in ("true", "false"):
            spark.conf.set(key, enabled)
            df = local_frame(spark, [("en", 1)], "tag_name string, tag_id long")
            leaf = df._jdf.queryExecution().analyzed()
            assert leaf.nodeName() == "LocalRelation", (enabled, leaf.nodeName())
            assert python_backed_nodes(df) == []
    finally:
        spark.conf.set(key, prev)


def test_store_algo_stamp_written_through_local_frame(spark, tmp_path):
    """The store-era stamp is a one-row ``local_frame`` write: it reads
    back equal, the same era passes again, and another era is refused."""
    import pytest

    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        check_store_algo,
    )

    store = str(tmp_path / "store")
    check_store_algo(spark, store, f"{store}/index", "text/simhash-64/v1")
    stamp = spark.read.parquet(f"{store}/algo")
    assert stamp.schema.simpleString() == "struct<algo:string>"
    assert [tuple(r) for r in stamp.collect()] == [("text/simhash-64/v1",)]
    check_store_algo(spark, store, f"{store}/index", "text/simhash-64/v1")
    with pytest.raises(ValueError, match="era"):
        check_store_algo(spark, store, f"{store}/index", "text/simhash-64/v2")


def test_partitioned_warehouse_prunes(spark, tmp_path):
    """The warehouse layout: date-partitioned facts, and a time-range
    read whose partition filter prunes directories at planning time."""
    from crypto_data_pipeline_with_kafka_spark.warehouse import (
        read_events_range,
        write_events_warehouse,
    )

    events = load_table(spark, SF, "events")
    path = str(tmp_path / "wh")
    write_events_warehouse(events, path)

    ranged = read_events_range(spark, path, "2024-01-10", "2024-01-12")
    plan = plan_of(ranged)
    assert re.search(r"PartitionFilters: \[.*dt", plan), plan
    # correctness of the pruned read
    import pyspark.sql.functions as F

    expected = events.filter(
        (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-12")
    ).count()
    assert ranged.count() == expected > 0
    # only the 2 matching dt= directories are scanned
    m = re.search(r"partition count: (\d+)", plan) or re.search(
        r"selected (\d+) partitions", plan
    )
    if m:
        assert int(m.group(1)) <= 2


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing (SURVEY §4 / pyspark guide): facts bucketed on the join
    key co-locate, so a fact-fact join plans with NO Exchange on either
    side — the 100-TB answer to repeated big joins on one key."""
    import pyspark.sql.functions as F

    events = load_table(spark, SF, "events")
    (
        events.write.bucketBy(8, "user_id")
        .sortBy("user_id", "ts")
        .option("path", str(tmp_path / "ev_bucketed"))  # external table loc
        .mode("overwrite")
        .saveAsTable("ev_bucketed")
    )
    agg = (
        spark.table("ev_bucketed")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined = spark.table("ev_bucketed").join(agg, "user_id")
    plan = plan_of(joined, "simple")
    # the groupBy on the bucket key needs NO shuffle (partial+final run
    # back-to-back over bucketed input); a BroadcastExchange for the
    # tiny agg side is fine — what must be absent is hash repartitioning
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Bucketed: true" in plan, plan
    assert joined.count() == events.count()
    spark.sql("DROP TABLE IF EXISTS ev_bucketed")


def test_simhash_pairs_no_forced_per_doc_broadcast(spark):
    """The packed-signature relation is O(corpus) — one row per doc —
    so simhash_pairs must NOT hint it broadcast (driver OOM at scale);
    AQE may still choose a broadcast at runtime when it actually fits."""
    import pyspark.sql.functions as F

    from crypto_data_pipeline_with_kafka_spark.operators.dedup import simhash_pairs

    sims = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lpad(F.bin("id"), 64, "0").alias("simhash")
    )
    logical = simhash_pairs(sims)._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in logical.lower(), logical


def test_registry_holds_exactly_fifty_queries():
    """The driver's CORRECTNESS gate attests 50 queries; every slot must
    carry one (growing past 50 silently drops a query's verdict —
    merge into a composite or swap instead)."""
    qs = all_queries()
    assert len(qs) == 50, sorted(qs)
    rows_only = [n for n, q in qs.items() if q.oracle is None]
    # every registered query is value-checked: even the sketch query
    # emits its error bounds as oracle-matchable booleans (round 4)
    assert rows_only == [], rows_only


def test_ngram_plan_caches_out_param_releases_everything(spark):
    """dedup_ngram_jaccard's cache lifecycle (r11): the registered plan
    persists one token base plus per-leg intermediates; the bench loop
    clears them via its documented clearCache(), but a long-lived
    session calling the plan directly must be able to release them
    WITHOUT nuking the whole catalog — the caches= out-param hands
    every persisted handle back, and unpersisting them empties the
    SQL CacheManager again. Scope note: the census sees
    DataFrame-level persists only (everything this plan creates) —
    if the plan ever routes through an RDD-level localCheckpoint
    (e.g. the minhash cluster rounds), extend the census, because the
    cache manager is blind to those."""
    from crypto_data_pipeline_with_kafka_spark.plans.q_dedup import (
        dedup_ngram_jaccard,
    )

    # census via the SQL CacheManager, not getPersistentRDDs(): the
    # RDD census also counts other tests' localCheckpoint RDDs, whose
    # async ContextCleaner reaping races this test (observed flaky in
    # the full suite); DataFrame.persist/unpersist entries are
    # explicit and synchronous in the cache manager
    jcm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert jcm.isEmpty()
    caches: list = []
    n = dedup_ngram_jaccard(spark, "/root/testdata/sf0.001", caches=caches).count()
    assert n > 0
    assert caches, "plan persisted nothing into the out-param"
    # the plan really did persist (the leak the out-param exists for)
    assert not jcm.isEmpty()
    for c in caches:
        c.unpersist()
    assert jcm.isEmpty()


def test_no_query_emits_nested_columns(spark):
    """Every registered query must emit only atomic columns: the
    driver's canonicalizer sorts result values in pandas and dies on
    unhashable array/map cells (round 2's agg_approx_sketches err —
    its quartiles array made even the rows-only check unrunnable).
    Schema-only: builds each DataFrame without executing it."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = []
    for name, q in sorted(all_queries().items()):
        for f in q.fn(spark, "/root/testdata/sf0.001").schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert bad == [], bad


def test_ann_suite_has_no_cartesian_product(spark):
    """Both ANN legs must stay bucket/cell-joined: the only nested-loop
    allowed is the broadcast against the O(num_centroids) centroid
    table (BroadcastNestedLoopJoin), never a CartesianProduct over
    corpus-sized relations."""
    q = all_queries()["sim_ann_suite"]
    plan = plan_of(q.fn(spark, SF), "simple")
    assert "CartesianProduct" not in plan, plan


def test_flagship_anti_join_broadcasts_via_aqe(spark):
    """The flagship's idempotence anti-join deliberately carries NO
    broadcast hint (the existing-keys side is history-sized at 100 TB,
    so a forced broadcast is a driver-OOM class bug); AQE must still
    convert the sort-merge candidate to a broadcast at bench scales
    from runtime statistics. Asserted on the FINALIZED adaptive plan of
    the Dataset's own QueryExecution: ``collectAsList`` executes that
    exact QueryExecution (``.count()`` would derive a NEW one and leave
    this plan isFinalPlan=false), and the assertion is scoped to the
    '== Final Plan ==' section — the initial-plan section still prints
    the pre-conversion SortMergeJoin."""
    df = all_queries()["ind_pipeline"].fn(spark, SF)
    df._jdf.collectAsList()  # execute THIS QueryExecution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    anti_lines = [ln for ln in final.splitlines() if "LeftAnti" in ln]
    assert anti_lines, plan
    assert all("BroadcastHashJoin" in ln for ln in anti_lines), plan


def test_flagship_prefilter_prunes_existing_partitions(spark, tmp_path):
    """The r4 verdict's deferred promise, now code: the flagship's
    existing-keys side is pre-filtered to the ingest [min(ts), max(ts)]
    before the left-anti join (prefilter_to_ingest_range). When existing
    is a warehouse (dt-partitioned) read, the derived date predicate is
    STATIC — it must land in PartitionFilters so history partitions are
    pruned at planning time, keeping the anti-join's build side
    O(ingest-window) at any history size. Also asserts the pre-filter is
    a semantic no-op: identical output with it on and off."""
    import datetime as dt

    import pyspark.sql.functions as F

    from crypto_data_pipeline_with_kafka_spark.operators.indicators import (
        indicator_pipeline,
        prefilter_to_ingest_range,
    )

    events = load_table(spark, SF, "events")
    # 'existing' = the indicator store a previous full run persisted,
    # laid out per warehouse.py (dt= partition dirs)
    path = str(tmp_path / "ind_store")
    (
        indicator_pipeline(spark, events)
        .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .write.partitionBy("dt")
        .parquet(path)
    )
    existing = spark.read.parquet(path)
    n_parts = existing.select("dt").distinct().count()

    # ingest = the last ~2 days of events (an incremental batch)
    hi = events.agg(F.max("ts")).first()[0]
    ingest = events.filter(F.col("ts") >= F.lit(hi - dt.timedelta(days=2)))
    assert not ingest.isEmpty()

    pruned = prefilter_to_ingest_range(ingest, existing)
    plan = plan_of(pruned)
    assert re.search(r"PartitionFilters: \[.*dt", plan), plan
    m = re.search(r"partition count: (\d+)", plan)
    if m:  # the dt predicate prunes to the ingest window's partitions
        assert int(m.group(1)) <= 3 < n_parts, plan

    on = indicator_pipeline(spark, ingest, existing=existing)
    off = indicator_pipeline(spark, ingest, existing=existing, prefilter_existing=False)
    assert on.exceptAll(off).isEmpty() and off.exceptAll(on).isEmpty()


def test_widen_if_narrow_fixes_single_split_scans(spark):
    """A single-split scan is widened to cluster parallelism (hash
    partitioning — deterministic under retry); an input already at or
    above defaultParallelism passes through with NO added shuffle."""
    from pyspark.sql import functions as F

    from crypto_data_pipeline_with_kafka_spark.catalog import widen_if_narrow

    target = spark.sparkContext.defaultParallelism
    docs = load_table(spark, SF, "documents")
    assert docs.rdd.getNumPartitions() < target  # the premise: narrow scan
    wide = widen_if_narrow(docs, "doc_id")
    assert wide.rdd.getNumPartitions() == target
    # value-preserving: same rows, and hash partitioning keeps layout
    # deterministic across evaluations
    assert wide.count() == docs.count()
    assert "hashpartitioning" in wide._jdf.queryExecution().toString().lower()

    already_wide = docs.repartition(target, "doc_id")
    passthrough = widen_if_narrow(already_wide, "doc_id")
    assert passthrough is already_wide  # no extra Exchange on the scale path

    # streaming frames pass through untouched
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    )
    assert widen_if_narrow(stream, "value") is stream


def test_retrain_reassignment_plan_no_hash_exchange(spark, tmp_path):
    """retrain_ivf_store's re-assignment is ONE distributed map over
    the cells store: in-row scoring against the broadcast O(C)
    centroids with batch_id carried per row (carry_cols) — the
    assignment plan must contain NO hash Exchange (the single layout
    exchange is added only by the final repartition before the staged
    write), and the centroids must arrive via BroadcastExchange."""
    import pyspark.sql.functions as F

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _seed_centroids,
        dbl_vector,
        incremental_ivf_update,
        ivf_assignments,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    store = str(tmp_path / "store")
    cents = _seed_centroids(
        emb.select("vec_id", dbl_vector("embedding").alias("vdbl")), 4, "vec_id"
    ).localCheckpoint()
    incremental_ivf_update(emb, store, 0, centroids=cents, min_cosine=0.9)

    stored = spark.read.parquet(f"{store}/cells")
    vecs = stored.select("vec_id", "embedding", "batch_id")
    re_cells = ivf_assignments(
        vecs,
        probes=1,
        id_col="vec_id",
        vec_col="embedding",
        centroids=cents,
        carry_cols=("batch_id", "embedding"),
    )
    plan = plan_of(re_cells, "simple")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    # the carried columns actually ride through
    assert set(re_cells.columns) == {"vec_id", "batch_id", "embedding", "centroid_id"}


def test_new_r11_operators_plan_shapes(spark):
    """Plan pins for the r11 additions (the engine's broadcast
    discipline, asserted so a regression to a shuffled or cartesian
    plan fails loudly): (a) bq_topk broadcasts the bounded QUERY side
    over the streaming packed-lane corpus (BroadcastNestedLoopJoin,
    never CartesianProduct); (b) the NB classifier's scoring join
    broadcasts the bucket-capped weights table (BroadcastHashJoin);
    (c) semantic_decontaminate broadcasts the eval-set-sized benchmark
    (BroadcastNestedLoopJoin, never CartesianProduct). The classifier
    trains once (its documented O(1)-row totals collect runs); every
    ASSERTED plan is built without executing."""
    import pyspark.sql.functions as F

    from crypto_data_pipeline_with_kafka_spark.functions.quality_model import (
        score_with_quality_classifier,
        train_quality_classifier,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.semantic import (
        semantic_decontaminate,
    )
    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        bq_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    bq_plan = plan_of(bq_topk(emb, query_ids_max=8, k=3))
    assert "BroadcastNestedLoopJoin" in bq_plan
    assert "CartesianProduct" not in bq_plan

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        mrl_topk,
    )

    mrl_plan = plan_of(mrl_topk(emb, prefix_dims=16, query_ids_max=8, k=3))
    assert "BroadcastNestedLoopJoin" in mrl_plan
    assert "CartesianProduct" not in mrl_plan

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    labeled = docs.withColumn("label", (F.length("text") % 2).cast("int"))
    model = train_quality_classifier(labeled, num_buckets=1 << 12)
    score_plan = plan_of(score_with_quality_classifier(docs, model))
    assert "BroadcastHashJoin" in score_plan, score_plan

    bench = emb.limit(5)
    dec_plan = plan_of(semantic_decontaminate(emb, bench, 0.9))
    assert "BroadcastNestedLoopJoin" in dec_plan
    assert "CartesianProduct" not in dec_plan
    spark.catalog.clearCache()


def test_r12_fusion_plan_shapes(spark):
    """r12 fusion operators stay declarative and small: rrf_fuse plans
    as union → hash aggregate → window with no cartesian product and
    no Python eval; recall_at_k joins broadcast-small rankings (no
    cartesian, no Python)."""
    from crypto_data_pipeline_with_kafka_spark.operators.fusion import (
        recall_at_k,
        rrf_fuse,
    )

    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_id long, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2)], "query_id long, doc_id long, rank int"
    )
    rrf_plan = plan_of(rrf_fuse([("a", a), ("b", b)]), "simple")
    assert "CartesianProduct" not in rrf_plan, rrf_plan
    assert "BatchEvalPython" not in rrf_plan and "ArrowEvalPython" not in rrf_plan
    assert "HashAggregate" in rrf_plan and "Window" in rrf_plan

    rec_plan = plan_of(recall_at_k(b, a), "simple")
    assert "CartesianProduct" not in rec_plan, rec_plan
    assert "BatchEvalPython" not in rec_plan and "ArrowEvalPython" not in rec_plan

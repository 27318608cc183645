"""Streaming-layer tests (SURVEY §5 streaming tier): real Structured
Streaming over file sources; idempotent foreachBatch sink absorbing
redelivery (ST2); incremental indicator recompute equivalence (ST4 +
the §4 O(history) fix)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from crypto_data_pipeline_with_kafka_spark.catalog import load_table
from crypto_data_pipeline_with_kafka_spark.operators.indicators import (
    compute_indicators,
)
from crypto_data_pipeline_with_kafka_spark.sources.kafka_messages import (
    typed_news_rows,
    typed_price_rows,
    to_kafka_shape,
)
from crypto_data_pipeline_with_kafka_spark.sources.sinks import target_exists
from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
    foreach_batch_idempotent_append,
    incremental_indicator_batch,
)

SF = "/root/testdata/sf0.01"


def test_idempotent_foreach_batch_absorbs_redelivery(spark, tmp_path):
    target = str(tmp_path / "fact")
    batch = load_table(spark, SF, "events").limit(500)
    writer = foreach_batch_idempotent_append(target, keys=["event_id"])
    writer(batch, epoch_id=0)
    writer(batch, epoch_id=0)  # redelivered batch (crash-before-commit)
    writer(batch, epoch_id=1)  # and again in a later epoch
    assert spark.read.parquet(target).count() == 500


def test_incremental_indicators_match_full_recompute(spark):
    """Split events at a cutoff; incremental update over (history, new)
    must equal the full-recompute rows in the new range — the
    O(history)→O(tail) fix for spark_job_1.py:18-22."""
    events = load_table(spark, SF, "events")
    cutoff = F.lit("2024-01-25").cast("timestamp")
    history, new = events.filter(F.col("ts") < cutoff), events.filter(
        F.col("ts") >= cutoff
    )

    inc = incremental_indicator_batch(history, new).select(
        "user_id", "ts", "type_name", "ind_value"
    )
    full = compute_indicators(events)
    first_new = new.groupBy("user_id").agg(F.min("ts").alias("m"))
    expected = (
        full.join(first_new, "user_id")
        .filter(F.col("ts") >= F.col("m"))
        .select("user_id", "ts", "type_name", "ind_value")
    )
    assert inc.count() == expected.count() > 0
    assert inc.exceptAll(expected).count() == 0
    assert expected.exceptAll(inc).count() == 0


def test_kafka_message_roundtrip(spark):
    """Price/news message schemas: producer dict → JSON → typed rows,
    with the reference's defaults, decimal casts, and ms-epoch parsing."""
    msgs = [
        (
            '{"symbol":"BTCUSDT","interval":"1d","open_time":1704067200000,'
            '"open":"42000.5","high":"43000","low":"41500.25","close":"42750.75",'
            '"volume":"1234.000000000000000001","close_time":1704153599999,'
            '"fetched_at":"2024-01-01T12:00:00"}'
        ),
        '{"symbol":"ETHUSDT","open_time":1704067200000,"close":"2300.1"}',
        "not json at all",
    ]
    raw = spark.createDataFrame([(m,) for m in msgs], "value string")
    rows = typed_price_rows(raw).collect()
    assert len(rows) == 2  # corrupt record dropped
    btc = next(r for r in rows if r.symbol == "BTCUSDT")
    assert str(btc.open_price) == "42000.5000000000"
    assert str(btc.volume) == "1234.000000000000000001"
    assert btc.open_time.isoformat().startswith("2024-01-01T00:00:00")
    eth = next(r for r in rows if r.symbol == "ETHUSDT")
    assert eth.interval == "1h"  # consumer_prices.py:63 default

    news = spark.createDataFrame(
        [
            (
                '{"title":"t","url":"https://x/a","published":'
                '"Mon, 01 Jan 2024 12:30:00 +0000","tag":"BTC",'
                '"sentiment_score":0.5,"content":"body"}',
            )
        ],
        "value string",
    )
    nrows = typed_news_rows(news).collect()
    assert nrows[0].created_date.isoformat() == "2024-01-01T12:30:00"

    shaped = to_kafka_shape(
        spark.createDataFrame([("BTCUSDT", "1h", 1.0)], "symbol string, interval string, v double"),
        ["symbol", "interval"],
    ).collect()[0]
    assert shaped.key == "BTCUSDT-1h"
    assert '"symbol":"BTCUSDT"' in shaped.value


def test_streaming_file_source_runs(spark, sf_smoke):
    from crypto_data_pipeline_with_kafka_spark.plans.q_streaming import (
        stream_dedup_distinct,
    )

    out = stream_dedup_distinct(spark, sf_smoke)
    batch = (
        load_table(spark, sf_smoke, "events").select("user_id", "event_type").distinct()
    )
    assert out.filter("part = 'distinct'").count() == batch.count()
    # the incr leg flags at least the fixtures' constructed near-dups
    assert out.filter("part = 'incr'").count() > 0


def test_batch_idempotent_sink_and_empty_guard(spark, tmp_path):
    from crypto_data_pipeline_with_kafka_spark.sources.sinks import (
        non_empty,
        write_idempotent_append,
    )

    target = str(tmp_path / "sink")
    df = load_table(spark, SF, "events").limit(300)
    write_idempotent_append(df, target, keys=["event_id"])
    write_idempotent_append(df, target, keys=["event_id"])  # no-op rerun
    assert spark.read.parquet(target).count() == 300
    assert non_empty(df) and not non_empty(df.limit(0))


def test_streaming_incremental_indicators_end_to_end(spark, tmp_path):
    """Two-file stream → foreachBatch incremental indicator writes; the
    final store must equal a full-history batch recompute (and re-running
    the stream over the same source must be a no-op)."""
    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        run_incremental_indicator_stream,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "src")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    # two files = two micro-batches, in time order; the stream reader
    # expects the driver's on-disk shape (ts = epoch-ns long)
    as_ns = events.withColumn("ts", F.unix_micros("ts") * 1000)
    as_ns.filter(F.timestamp_micros(F.expr("ts div 1000")) < cutoff).coalesce(
        1
    ).write.parquet(src)
    as_ns.filter(F.timestamp_micros(F.expr("ts div 1000")) >= cutoff).coalesce(
        1
    ).write.mode("append").parquet(src)

    ev_store = str(tmp_path / "events_store")
    ind_store = str(tmp_path / "ind_store")
    progress = run_incremental_indicator_stream(
        spark, src + "/*.parquet", ev_store, ind_store, lookback_days=60
    )
    # one progress dict per file; numInputRows counts the rows of every
    # scan of the batch: the shared empty-batch guard, the date-bounds
    # aggregate and the persisted anti-join input read each file once
    assert [p["batchId"] for p in progress] == [0, 1]
    assert sum(p["numInputRows"] for p in progress) == 3 * events.count()

    got = spark.read.parquet(ind_store).select("user_id", "ts", "type_name", "ind_value")
    want = compute_indicators(events).select("user_id", "ts", "type_name", "ind_value")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stateful_streaming_ema_carries_state_across_batches(spark, tmp_path):
    """applyInPandasWithState: two time-ordered files = two micro-batches;
    the per-key recurrence state (EMA + Wilder RSI warm-up sums /
    averages + previous value, r5) must carry across them so the
    streamed result equals a batch recompute over the full history —
    including diffs that SPAN the batch boundary and RSI seeds completing
    mid-stream."""
    from crypto_data_pipeline_with_kafka_spark.operators.recursive import (
        ema,
        recursive_indicators,
    )
    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import run_to_memory
    from crypto_data_pipeline_with_kafka_spark.streaming.stateful import (
        streaming_ema,
        streaming_recursive_indicators,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "src")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    as_ns = events.withColumn("ts", F.unix_micros("ts") * 1000)
    ts_back = F.timestamp_micros(F.expr("ts div 1000"))
    as_ns.filter(ts_back < cutoff).coalesce(1).write.parquet(src)
    as_ns.filter(ts_back >= cutoff).coalesce(1).write.mode("append").parquet(src)

    # maxFilesPerTrigger=1 ensures two micro-batches
    raw_schema = "event_id long, ts long, user_id long, event_type string, value double, props string"

    def raw(s):
        return (
            s.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )

    got = run_to_memory(
        lambda s: streaming_ema(raw(s)),
        output_mode="append",
        name_prefix="sema",
        spark=spark,
    )
    want = ema(events, alpha=0.125)

    g = got.select("user_id", "event_id", "ema")
    w = want.select("user_id", "event_id", "ema")
    assert g.count() == w.count() == events.count()
    assert g.exceptAll(w).count() == 0 and w.exceptAll(g).count() == 0

    # full recurrence tuple: streamed EMA + Wilder RSI across the batch
    # boundary ≡ the batch walk (bitwise — NULL warm-ups included)
    got2 = run_to_memory(
        lambda s: streaming_recursive_indicators(raw(s)),
        output_mode="append",
        name_prefix="srec",
        spark=spark,
    )
    want2 = recursive_indicators(events, alpha=0.125, period=14)
    g2 = got2.select("user_id", "event_id", "ema", "rsi_wilder")
    w2 = want2.select("user_id", "event_id", "ema", "rsi_wilder")
    assert g2.count() == w2.count() == events.count()
    assert g2.exceptAll(w2).count() == 0 and w2.exceptAll(g2).count() == 0


def test_streaming_incremental_indicators_out_of_order_batches(spark, tmp_path):
    """A LATE micro-batch (earlier timestamps arriving after later ones)
    changes indicator values at already-written timestamps; the
    delete-and-rewrite sink must replace those stale rows so the final
    store still equals the full-history batch recompute. (Append+anti-join
    — the round-1 sink — fails this: it would keep the stale rows.)"""
    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        run_incremental_indicator_stream,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "src")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    as_ns = events.withColumn("ts", F.unix_micros("ts") * 1000)
    ts_back = F.timestamp_micros(F.expr("ts div 1000"))
    # LATER slice lands first (file ordering = arrival ordering with
    # maxFilesPerTrigger=1 and the file source's modified-time ordering)
    as_ns.filter(ts_back >= cutoff).coalesce(1).write.parquet(src)
    import time

    time.sleep(1.1)  # distinct mtime so the late file is the 2nd batch
    as_ns.filter(ts_back < cutoff).coalesce(1).write.mode("append").parquet(src)

    ev_store = str(tmp_path / "events_store")
    ind_store = str(tmp_path / "ind_store")
    run_incremental_indicator_stream(
        spark, src + "/*.parquet", ev_store, ind_store, lookback_days=60
    )

    got = spark.read.parquet(ind_store).select("user_id", "ts", "type_name", "ind_value")
    want = compute_indicators(events).select("user_id", "ts", "type_name", "ind_value")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_incremental_indicators_redelivery_noop(spark, tmp_path):
    """Re-running the whole stream over the same source with a fresh
    checkpoint (= every batch redelivered) must leave both stores
    unchanged: the event anti-join reduces redelivered batches to
    no-ops before any write."""
    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        run_incremental_indicator_stream,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "src")
    events.withColumn("ts", F.unix_micros("ts") * 1000).coalesce(1).write.parquet(src)
    ev_store = str(tmp_path / "events_store")
    ind_store = str(tmp_path / "ind_store")
    run_incremental_indicator_stream(
        spark, src + "/*.parquet", ev_store, ind_store, lookback_days=60
    )
    n_ev = spark.read.parquet(ev_store).count()
    n_ind = spark.read.parquet(ind_store).count()
    run_incremental_indicator_stream(
        spark, src + "/*.parquet", ev_store, ind_store, lookback_days=60
    )
    assert spark.read.parquet(ev_store).count() == n_ev
    assert spark.read.parquet(ind_store).count() == n_ind


def test_pruned_store_read_has_partition_filters(spark, tmp_path):
    """The per-batch anti-join/history read must prune date partitions
    at planning time (PartitionFilters), so a micro-batch reads
    O(overlapping partitions) of the store, never O(history)."""
    import io
    import re
    from contextlib import redirect_stdout

    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        pruned_store_read,
    )
    from crypto_data_pipeline_with_kafka_spark.warehouse import (
        write_events_warehouse,
    )

    events = load_table(spark, SF, "events")
    path = str(tmp_path / "store")
    write_events_warehouse(events, path)
    ranged = pruned_store_read(spark, path, "2024-01-10", "2024-01-11")
    buf = io.StringIO()
    with redirect_stdout(buf):
        ranged.explain("formatted")
    plan = buf.getvalue()
    assert re.search(r"PartitionFilters: \[.*dt", plan), plan
    assert ranged.count() > 0


def test_idempotent_foreach_batch_partitioned_prunes(spark, tmp_path):
    """ts_col mode: the sink writes date-partitioned and the redelivery
    anti-join reads only the batch's overlapping partitions."""
    target = str(tmp_path / "fact")
    batch = load_table(spark, SF, "events").limit(400)
    writer = foreach_batch_idempotent_append(target, keys=["event_id"], ts_col="ts")
    writer(batch, epoch_id=0)
    writer(batch, epoch_id=0)  # redelivered → no-op
    got = spark.read.parquet(target)
    assert got.count() == 400
    assert "dt" in got.columns  # date-partitioned layout
    import glob
    import os

    assert glob.glob(os.path.join(target, "dt=*")), "expected dt= partition dirs"


def test_incremental_stream_lookback_warns_and_bounded_equivalence(
    spark, tmp_path
):
    """lookback_days is a REQUIRED keyword (r5: an unbounded default was
    the reference's own O(history) pathology); the explicit None opt-in
    must WARN (unbounded per-batch tail read), and an explicit bound
    that covers the frame (14 prior rows per key) must produce the
    identical store."""
    import inspect

    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        run_incremental_indicator_stream,
    )

    # no default: omitting lookback_days is a TypeError, not a silent
    # unbounded read
    param = inspect.signature(run_incremental_indicator_stream).parameters[
        "lookback_days"
    ]
    assert param.default is inspect.Parameter.empty
    assert param.kind is inspect.Parameter.KEYWORD_ONLY

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "src")
    events.withColumn("ts", F.unix_micros("ts") * 1000).coalesce(1).write.parquet(src)

    with pytest.warns(UserWarning, match="lookback_days"):
        run_incremental_indicator_stream(
            spark,
            src + "/*.parquet",
            str(tmp_path / "ev_a"),
            str(tmp_path / "ind_a"),
            lookback_days=None,
        )
    # sf0.001 spans ~1 month; 60 days covers any key's 14-row tail
    run_incremental_indicator_stream(
        spark,
        src + "/*.parquet",
        str(tmp_path / "ev_b"),
        str(tmp_path / "ind_b"),
        lookback_days=60,
    )
    a = spark.read.parquet(str(tmp_path / "ind_a")).select(
        "user_id", "ts", "type_name", "ind_value"
    )
    b = spark.read.parquet(str(tmp_path / "ind_b")).select(
        "user_id", "ts", "type_name", "ind_value"
    )
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_indicator_stream_lookback_bound_is_window_rows(spark, tmp_path):
    """The lookback bound is tight: one key with events exactly one day
    apart, split into two micro-batches at a day boundary. RSI's first
    ``lag`` diff in the 14-row frame reads a 15th event, so the first
    recomputed row needs WINDOW_ROWS prior rows: ``lookback_days =
    WINDOW_ROWS`` reproduces the full recompute, one day fewer does
    not."""
    import datetime as dt
    import glob
    import os

    from crypto_data_pipeline_with_kafka_spark.catalog import local_frame
    from crypto_data_pipeline_with_kafka_spark.operators.indicators import (
        WINDOW_ROWS,
    )
    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        run_incremental_indicator_stream,
    )

    day0 = dt.datetime(2024, 1, 1, 12, tzinfo=dt.timezone.utc)
    split = WINDOW_ROWS + 6  # first event of the second batch
    events = local_frame(
        spark,
        [
            (i, day0 + dt.timedelta(days=i), 7, "trade", 100.0 + 7 * i % 10, "")
            for i in range(split + 10)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    src = str(tmp_path / "src")
    as_ns = events.withColumn("ts", F.unix_micros("ts") * 1000)
    as_ns.filter(f"event_id < {split}").coalesce(1).write.parquet(src)
    (first,) = glob.glob(f"{src}/*.parquet")
    as_ns.filter(f"event_id >= {split}").coalesce(1).write.mode("append").parquet(src)
    (second,) = set(glob.glob(f"{src}/*.parquet")) - {first}
    # one file per micro-batch, taken oldest-modified first
    os.utime(first, (1_000_000, 1_000_000))
    os.utime(second, (2_000_000, 2_000_000))

    cols = ("user_id", "ts", "type_name", "ind_value")
    want = compute_indicators(events).select(*cols)

    def store(lookback_days):
        out = str(tmp_path / f"ind_{lookback_days}")
        run_incremental_indicator_stream(
            spark,
            src + "/*.parquet",
            str(tmp_path / f"ev_{lookback_days}"),
            out,
            lookback_days=lookback_days,
        )
        return spark.read.parquet(out).select(*cols)

    got = store(WINDOW_ROWS)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    short = store(WINDOW_ROWS - 1)
    assert short.exceptAll(want).count() > 0


def test_watermark_drops_too_late_rows_in_append_mode(spark, tmp_path):
    """ST4's OTHER half: complete-mode queries re-emit everything, so
    drop semantics never show there. In APPEND mode a window's state is
    EVICTED (and the window emitted) at the end of the first batch
    whose watermark passed its end; a row for that window arriving in a
    LATER batch is discarded at the aggregation input
    (numRowsDroppedByWatermark) — the bounded-state contract that lets
    a 100-TB state store forget old windows. Note the subtlety this
    test pins: the watermark is a state-RETENTION bound, not an instant
    drop line — a late row landing in the SAME batch that finalizes its
    window still merges; only post-eviction arrivals drop. Three
    mtime-ordered micro-batches (maxFilesPerTrigger=1): advance the
    watermark past the 08:00 window, evict it, then deliver an 08:45
    straggler."""
    import datetime as dt
    import time

    from crypto_data_pipeline_with_kafka_spark.sources.readers import (
        events_stream_reader,
    )
    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        streaming_tumbling_counts,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        ).withColumn("ts", F.unix_micros("ts") * 1000)  # ns, as the reader expects

    def ts(h, m=30):
        return dt.datetime(2024, 1, 10, h, m)

    src = str(tmp_path / "src")
    # batch 0: the 08:00 window (n=1) + a 12:30 event → watermark 11:30
    mk([(1, ts(8), 1, "a", 1.0, None), (2, ts(12), 1, "a", 1.0, None)]).coalesce(
        1
    ).write.parquet(src)
    time.sleep(1.1)  # distinct mtimes order the micro-batches
    # batch 1: watermark 11:30 operative → evicts+emits [08:00,09:00) at
    # its end; 13:30 event advances the watermark to 12:30
    mk([(3, ts(13), 1, "a", 1.0, None)]).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    # batch 2: 08:45 straggler — its window is gone; must be DROPPED
    mk([(4, ts(8, 45), 1, "a", 1.0, None)]).coalesce(1).write.mode("append").parquet(src)

    stream = events_stream_reader(spark, src + "/*.parquet", max_files_per_trigger=1)
    agg = streaming_tumbling_counts(stream, watermark="1 hour", window="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        so["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == 1, dropped  # exactly the straggler
    by_window = {r.bucket_start.hour: r.n for r in spark.table("late_drop_t").collect()}
    # the finalized 08:00 window kept n=1 — the straggler neither merged
    # nor re-emitted a duplicate window row
    assert by_window.get(8) == 1, by_window


def test_incremental_dedup_stream_out_of_order_arrival(spark, tmp_path):
    """The streaming near-dup gate with batches arriving in REVERSE id
    order: every flagged pair must still be a true verified near-dup
    (soundness), and for every pair the one-shot batch run verifies, at
    least one member must be flagged (no duplicate escapes — the
    docstring's 'attributed to whichever member arrived later')."""
    import glob as _glob
    import os
    import time as _time

    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        minhash_lsh_dedup,
    )
    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        run_incremental_dedup_stream,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    one_shot = {
        frozenset((r.id_a, r.id_b)) for r in minhash_lsh_dedup(docs).collect()
    }
    assert one_shot  # fixtures contain real near-dups

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    os.makedirs(src)
    now = _time.time()
    # stage high-id docs FIRST (reverse order)
    for i, (lo, hi) in enumerate([(334, 500), (167, 334), (0, 167)]):
        stage = f"{src}/_stage"
        (
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        part = _glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.move(part, f"{src}/batch{i}.parquet")
        shutil.rmtree(stage)
        os.utime(f"{src}/batch{i}.parquet", (now + 10 * i, now + 10 * i))
    progress = run_incremental_dedup_stream(spark, src, store)
    # one progress dict per file; numInputRows counts the rows of every
    # scan of the batch: the shared empty-batch guard's and the step's
    assert [p["batchId"] for p in progress] == [0, 1, 2]
    assert sum(p["numInputRows"] for p in progress) == 2 * docs.count()

    flags = spark.read.parquet(f"{store}/flagged").collect()
    flagged_pairs = {frozenset((r.doc_id, r.dup_of)) for r in flags}
    assert flagged_pairs  # cross-batch dups found despite reversed arrival
    assert flagged_pairs <= one_shot  # soundness: only true near-dup pairs
    flagged_docs = {d for p in flagged_pairs for d in p}
    for pair in one_shot:  # completeness: no duplicate pair escapes
        assert pair & flagged_docs, f"pair {set(pair)} escaped the gate"


def test_stream_stream_interval_join_across_batches(spark, tmp_path):
    """Stream-stream interval join: matches must form ACROSS micro-
    batches (a view buffered in join state meets a purchase arriving in
    a later file), and the drained stream must equal the batch interval
    join over the full history. Two mtime-ordered files split mid-
    timeline so cross-batch pairs exist; the watermark is generous so
    nothing is expired before it can match."""
    import time

    from crypto_data_pipeline_with_kafka_spark.sources.readers import (
        events_stream_reader,
    )
    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        run_to_memory,
        streaming_interval_join,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")

    def legs(df):
        return (
            df.filter(F.col("event_type") == "view"),
            df.filter(F.col("event_type") == "purchase"),
        )

    # batch twin first (withWatermark is a no-op on batch frames); pick
    # the cutoff INSIDE one matched pair so that pair is guaranteed to
    # span the two files — v buffered in join state meets p a batch later
    v_b, p_b = legs(events)
    want = streaming_interval_join(v_b, p_b, gap="6 hours", watermark="30 days")
    pair = want.filter(F.col("p_ts") > F.col("v_ts")).select("p_ts").head()
    assert pair is not None, "fixture has no strictly-later purchase pair"
    cutoff = F.lit(pair[0]).cast("timestamp")

    src = str(tmp_path / "src")
    as_ns = events.withColumn("ts", F.unix_micros("ts") * 1000)
    ts_back = F.timestamp_micros(F.expr("ts div 1000"))
    as_ns.filter(ts_back < cutoff).coalesce(1).write.parquet(src)
    time.sleep(1.1)
    as_ns.filter(ts_back >= cutoff).coalesce(1).write.mode("append").parquet(src)

    def build(s):
        stream = events_stream_reader(s, src + "/*.parquet", max_files_per_trigger=1)
        return streaming_interval_join(
            *legs(stream), gap="6 hours", watermark="30 days"
        )

    got = run_to_memory(build, output_mode="append", name_prefix="ivj", spark=spark)

    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # cross-batch evidence: at least one pair spans the file cutoff
    spans = got.filter((F.col("v_ts") < cutoff) & (F.col("p_ts") >= cutoff))
    assert spans.count() > 0


def test_rocksdb_state_store_equals_default(spark, monkeypatch):
    """SPARK_GRAFT_STATE_STORE=rocksdb swaps Spark's bundled RocksDB
    provider into run_to_memory (the large-state deployment backend —
    state on local disk instead of the JVM heap). Results must be
    identical to the default HDFS-backed provider. The provider and
    state-partition confs bind to the cloned session the stream is
    built on; the caller's session never holds either, not even while
    the stream is being built."""
    from crypto_data_pipeline_with_kafka_spark.sources.readers import (
        events_stream_reader,
    )
    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        run_to_memory,
        streaming_tumbling_counts,
    )

    sf = "/root/testdata/sf0.001"
    parts_key = "spark.sql.shuffle.partitions"
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    caller = (spark.conf.get(parts_key), spark.conf.get(prov_key, None))
    assert caller[1] is None  # the session default provider
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "3")
    seen = []

    def run():
        def build(s):
            # confs as the stream is built: caller's and clone's
            seen.append(
                (
                    (spark.conf.get(parts_key), spark.conf.get(prov_key, None)),
                    (s.conf.get(parts_key), s.conf.get(prov_key, None)),
                )
            )
            return streaming_tumbling_counts(
                events_stream_reader(s, f"{sf}/events.parquet")
            )

        got = run_to_memory(build, output_mode="complete", spark=spark)
        return {(r.bucket_start, r.event_type): (r.n, r.total) for r in got.collect()}

    base = run()
    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "rocksdb")
    rocks = run()
    assert rocks == base and len(base) > 0
    (base_caller, base_clone), (rocks_caller, rocks_clone) = seen
    assert base_caller == rocks_caller == caller
    assert base_clone == ("3", None)
    assert rocks_clone[0] == "3"
    assert rocks_clone[1].endswith("RocksDBStateStoreProvider")
    assert (spark.conf.get(parts_key), spark.conf.get(prov_key, None)) == caller


def test_compact_partitions_preserves_data_and_reduces_files(spark, tmp_path):
    """Warehouse small-file compaction: a partition accreted from many
    per-batch appends is rewritten to fewer files with identical rows;
    already-compact and unselected partitions are untouched; the run is
    idempotent."""
    import glob as _glob

    from crypto_data_pipeline_with_kafka_spark.warehouse import compact_partitions

    path = str(tmp_path / "store")
    events = load_table(spark, SF, "events").limit(2000)
    df = events.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
    dts = sorted(r["dt"] for r in df.select("dt").distinct().collect())[:2]
    frag, keep = dts[0], dts[1]
    # fragment one partition with 6 tiny appends, one append elsewhere
    fragged = df.filter(F.col("dt") == frag)
    for i in range(6):
        fragged.filter(F.col("event_id") % 6 == i).coalesce(1).write.mode(
            "append"
        ).partitionBy("dt").parquet(path)
    df.filter(F.col("dt") == keep).coalesce(1).write.mode("append").partitionBy(
        "dt"
    ).parquet(path)

    before = spark.read.parquet(path)
    rows_before = sorted(tuple(r) for r in before.collect())
    files_before = len(_glob.glob(f"{path}/dt={frag}/part-*.parquet"))
    assert files_before == 6

    written = compact_partitions(spark, path, partitions=[frag], sort_cols=("user_id", "ts"))
    assert written == {frag: 1}
    assert len(_glob.glob(f"{path}/dt={frag}/part-*.parquet")) == 1
    assert len(_glob.glob(f"{path}/dt={keep}/part-*.parquet")) == 1  # untouched
    rows_after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert rows_after == rows_before
    # idempotent: a second run finds everything compact
    assert compact_partitions(spark, path) == {}


def test_compact_partitions_recovers_from_crash_between_renames(spark, tmp_path):
    """r5 hardening: the swap is pdir→backup, staged→pdir, sweep backup —
    with every Hadoop boolean checked. Simulate the worst crash point
    (after the first rename: partition dir gone, data only in the
    backup): the next run must RESTORE the partition before compacting,
    so no rows are lost; a stale backup left after a completed swap is
    swept without touching the live data."""
    import glob as _glob
    import os
    import shutil

    from crypto_data_pipeline_with_kafka_spark.warehouse import compact_partitions

    path = str(tmp_path / "store")
    df = (
        load_table(spark, SF, "events")
        .limit(600)
        .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
    )
    frag = df.select("dt").distinct().orderBy("dt").first()["dt"]
    part = df.filter(F.col("dt") == frag)
    for i in range(4):
        part.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).partitionBy("dt").parquet(path)
    rows_before = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    # crash point: pdir renamed to backup, staged rename never happened.
    # Recovery must fire from DEFAULT discovery (partitions=None): the
    # lost partition has no dt= dir, only the orphaned backup.
    os.rename(f"{path}/dt={frag}", f"{path}/.compact_backup_dt={frag}")
    assert not os.path.exists(f"{path}/dt={frag}")

    written = compact_partitions(spark, path)
    assert written == {frag: 1}
    assert not os.path.exists(f"{path}/.compact_backup_dt={frag}")
    assert len(_glob.glob(f"{path}/dt={frag}/part-*.parquet")) == 1
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == rows_before

    # stale backup after a COMPLETED swap (pdir present): swept, data kept
    shutil.copytree(f"{path}/dt={frag}", f"{path}/.compact_backup_dt={frag}")
    assert compact_partitions(spark, path, partitions=[frag]) == {}
    assert not os.path.exists(f"{path}/.compact_backup_dt={frag}")
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == rows_before


def test_compact_partitions_parallel_matches_sequential(spark, tmp_path):
    """max_parallel: concurrent partition rewrites (disjoint dt= dirs,
    driver threads) must produce the same result as the sequential
    walk."""
    import glob as _glob

    from crypto_data_pipeline_with_kafka_spark.warehouse import compact_partitions

    path = str(tmp_path / "store")
    df = (
        load_table(spark, SF, "events")
        .limit(2000)
        .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
    )
    for i in range(3):  # fragment EVERY partition with 3 appends
        df.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).partitionBy("dt").parquet(path)
    rows_before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    n_parts = df.select("dt").distinct().count()

    written = compact_partitions(spark, path, max_parallel=4)
    assert len(written) == n_parts and set(written.values()) == {1}
    for dt in written:
        assert len(_glob.glob(f"{path}/dt={dt}/part-*.parquet")) == 1
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == rows_before
    assert compact_partitions(spark, path, max_parallel=4) == {}


def test_incremental_dedup_empty_batch_is_noop(spark, tmp_path):
    """A redelivered/empty micro-batch through incremental_minhash_dedup
    must write an empty flag partition and leave the index consistent —
    the foreachBatch path sees empty DataFrames in practice."""
    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    docs = load_table(spark, SF, "documents").limit(50)
    store = str(tmp_path / "idx")
    f0 = incremental_minhash_dedup(docs, store, 0)
    n0 = f0.count()
    empty = docs.filter("doc_id < 0")
    f1 = incremental_minhash_dedup(empty, store, 1)
    assert f1.count() == 0
    # batch 2 still dedups against batch 0's index across the empty batch
    f2 = incremental_minhash_dedup(docs.withColumn("doc_id", F.col("doc_id") + 100000), store, 2)
    assert f2.count() >= n0  # every shifted doc duplicates its original


def test_incremental_ivf_stream_matches_batch_calls(spark, tmp_path):
    """run_incremental_ivf_stream through the REAL streaming engine over
    3 staged files ≡ three direct incremental_ivf_update calls with the
    same fixed centroids (both stores bootstrapped with pq_codebooks=,
    so the streamed cells must keep carrying PQ codes identical to the
    direct path's); starting without trained centroids refuses."""
    import glob as _glob
    import os
    import time as _time

    import pytest as _pytest

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        _seed_centroids,
        incremental_ivf_update,
        pq_train,
    )
    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        run_incremental_ivf_stream,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = _ensure_ann_base(emb, "vec_id")
    cents = _seed_centroids(base, 8, "vec_id").localCheckpoint()
    books = pq_train(
        base, num_subvectors=8, codes_per_subvector=16, vec_col="vdbl", dim=64
    ).localCheckpoint()
    t = 0.2

    src = str(tmp_path / "src")
    stream_store = str(tmp_path / "stream_store")
    batch_store = str(tmp_path / "batch_store")
    os.makedirs(src)

    with _pytest.raises(ValueError, match="no trained centroids"):
        run_incremental_ivf_stream(spark, src, stream_store, min_cosine=t)

    now = _time.time()
    cuts = [(0, 167), (167, 334), (334, 500)]
    for i, (lo, hi) in enumerate(cuts):
        batch = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        incremental_ivf_update(
            batch, batch_store, i, centroids=cents if i == 0 else None,
            pq_codebooks=books if i == 0 else None,
            min_cosine=t,
        )
        stage = f"{src}/_stage"
        batch.coalesce(1).write.mode("overwrite").parquet(stage)
        part = _glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.move(part, f"{src}/batch{i}.parquet")
        shutil.rmtree(stage)
        os.utime(f"{src}/batch{i}.parquet", (now + 10 * i, now + 10 * i))

    cents.write.mode("overwrite").parquet(f"{stream_store}/centroids")
    books.write.mode("overwrite").parquet(f"{stream_store}/pq_codebooks")
    run_incremental_ivf_stream(spark, src, stream_store, min_cosine=t)

    def read_flags(store):
        return {
            r["vec_id"]: (r["match_id"], round(r["cosine"], 9))
            for r in spark.read.parquet(f"{store}/flagged").collect()
        }

    sflags, bflags = read_flags(stream_store), read_flags(batch_store)
    assert sflags == bflags and len(sflags) > 0

    # a pq_codebooks-bootstrapped store keeps coding every STREAMED
    # batch (the per-batch step reads the persisted codebooks): codes
    # identical to the direct batch path's, for every vector
    def read_codes(store):
        return {
            r["vec_id"]: list(r["codes"])
            for r in spark.read.parquet(f"{store}/cells").collect()
        }

    scodes, bcodes = read_codes(stream_store), read_codes(batch_store)
    assert scodes == bcodes and len(scodes) == emb.count()


def test_incremental_hamming_stream_matches_batch_calls(spark, tmp_path):
    """run_incremental_hamming_stream through the real streaming engine
    over 2 staged files ≡ two direct incremental_hamming_dedup calls."""
    import glob as _glob
    import os
    import time as _time

    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_hamming_dedup,
        simhash_bits,
    )
    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        run_incremental_hamming_stream,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src = str(tmp_path / "src")
    stream_store = str(tmp_path / "stream_store")
    batch_store = str(tmp_path / "batch_store")
    os.makedirs(src)
    now = _time.time()
    for b, (lo, hi) in enumerate([(0, 250), (250, 500)]):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        incremental_hamming_dedup(simhash_bits(batch), batch_store, b)
        stage = f"{src}/_stage"
        batch.coalesce(1).write.mode("overwrite").parquet(stage)
        part = _glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.move(part, f"{src}/batch{b}.parquet")
        shutil.rmtree(stage)
        os.utime(f"{src}/batch{b}.parquet", (now + 10 * b, now + 10 * b))
    run_incremental_hamming_stream(spark, src, stream_store)

    def flags(store):
        return {
            (r.doc_id, r.dup_of, r.hamming)
            for r in spark.read.parquet(f"{store}/flagged").collect()
        }

    sflags, bflags = flags(stream_store), flags(batch_store)
    assert sflags == bflags and len(sflags) > 0


def test_incremental_winnow_stream_matches_batch_calls(spark, tmp_path):
    """run_incremental_winnow_stream through the real streaming engine
    over 2 staged files ≡ two direct incremental_winnowing_dedup calls
    (the partial-overlap store's epoch_id-as-batch_id contract)."""
    import glob as _glob
    import os
    import time as _time

    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_winnowing_dedup,
    )
    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        run_incremental_winnow_stream,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src = str(tmp_path / "src")
    stream_store = str(tmp_path / "stream_store")
    batch_store = str(tmp_path / "batch_store")
    os.makedirs(src)
    now = _time.time()
    for b, (lo, hi) in enumerate([(0, 250), (250, 500)]):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        incremental_winnowing_dedup(
            batch.select("doc_id", "text"), batch_store, b
        )
        stage = f"{src}/_stage"
        batch.coalesce(1).write.mode("overwrite").parquet(stage)
        part = _glob.glob(f"{stage}/part-*.parquet")[0]
        shutil.move(part, f"{src}/batch{b}.parquet")
        shutil.rmtree(stage)
        os.utime(f"{src}/batch{b}.parquet", (now + 10 * b, now + 10 * b))
    run_incremental_winnow_stream(spark, src, stream_store)

    def wflags(store):
        return {
            (r.doc_id, r.overlap_of, r.shared)
            for r in spark.read.parquet(f"{store}/flagged").collect()
        }

    sflags, bflags = wflags(stream_store), wflags(batch_store)
    assert sflags == bflags and len(sflags) > 0


def test_compact_partitions_on_batch_id_store(spark, tmp_path):
    """partition_col generalization: the incremental hamming store's
    per-batch dirs compact like warehouse dates — fewer files, identical
    rows, and the store still serves redelivered batches byte-identically
    after the rewrite."""
    import glob as _glob

    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        incremental_hamming_dedup,
        simhash_bits,
    )
    from crypto_data_pipeline_with_kafka_spark.warehouse import compact_partitions

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    store = str(tmp_path / "ham")
    for b, (lo, hi) in enumerate([(0, 200), (200, 400), (400, 500)]):
        incremental_hamming_dedup(
            simhash_bits(
                docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            ),
            store,
            b,
        )
    hashes = f"{store}/hashes"
    rows_before = sorted(
        tuple(r) for r in spark.read.parquet(hashes).collect()
    )
    files_before = len(_glob.glob(f"{hashes}/batch_id=*/part-*.parquet"))
    flags_before = {
        (r.doc_id, r.dup_of, r.hamming)
        for r in incremental_hamming_dedup(
            simhash_bits(
                docs.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 500))
            ),
            store,
            2,
        ).collect()
    }

    written = compact_partitions(
        spark, hashes, partition_col="batch_id", sort_cols=("doc_id",)
    )
    assert written  # at least one batch dir actually shrank
    files_after = len(_glob.glob(f"{hashes}/batch_id=*/part-*.parquet"))
    assert files_after < files_before
    rows_after = sorted(tuple(r) for r in spark.read.parquet(hashes).collect())
    assert rows_after == rows_before
    # the compacted index serves a redelivered batch identically
    flags_after = {
        (r.doc_id, r.dup_of, r.hamming)
        for r in incremental_hamming_dedup(
            simhash_bits(
                docs.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 500))
            ),
            store,
            2,
        ).collect()
    }
    assert flags_after == flags_before


def test_ivf_stream_warns_when_store_needs_retrain(spark, tmp_path):
    """Stream start surfaces the grown-geometry condition: a store far
    past its trained C warns, naming retrain_ivf_store."""
    import glob as _glob
    import os
    import shutil
    import warnings as _warnings

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _ensure_ann_base,
        _seed_centroids,
        incremental_ivf_update,
    )
    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        run_incremental_ivf_stream,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = _ensure_ann_base(emb, "vec_id")
    tiny = _seed_centroids(base, 2, "vec_id").localCheckpoint()
    store = str(tmp_path / "store")
    incremental_ivf_update(emb, store, 0, centroids=tiny, min_cosine=0.9)

    src = str(tmp_path / "src")
    os.makedirs(src)
    stage = f"{src}/_stage"
    emb.limit(3).coalesce(1).write.mode("overwrite").parquet(stage)
    shutil.move(_glob.glob(f"{stage}/part-*.parquet")[0], f"{src}/b0.parquet")
    shutil.rmtree(stage)

    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        run_incremental_ivf_stream(spark, src, store, min_cosine=0.9)
    msgs = [str(x.message) for x in w]
    assert any("retrain_ivf_store" in m for m in msgs), msgs
    base.unpersist()


def test_compact_partitions_refuses_nested_layout(spark, tmp_path):
    """The IVF cells store is batch_id/centroid_id nested — a flat
    rewrite would destroy the inner partition level, so compaction must
    refuse it loudly and point at retrain_ivf_store."""
    import pytest as _pytest

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        _seed_centroids,
        dbl_vector,
        incremental_ivf_update,
    )
    from crypto_data_pipeline_with_kafka_spark.warehouse import compact_partitions

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    cents = _seed_centroids(
        emb.select("vec_id", dbl_vector("embedding").alias("vdbl")), 2, "vec_id"
    ).localCheckpoint()
    store = str(tmp_path / "ivf")
    incremental_ivf_update(emb, store, 0, centroids=cents, min_cosine=0.9)

    with _pytest.raises(ValueError, match="nested"):
        compact_partitions(spark, f"{store}/cells", partition_col="batch_id")


def test_transform_with_state_twin_builds_and_matches_when_runnable(
    spark, tmp_path
):
    """Spark-4 ``transformWithStateInPandas`` twin of the stateful
    recursion (streaming_recursive_indicators_tws): the streaming PLAN
    must build and analyze against a real file stream — attesting the
    API plumbing, schema, and state wiring — and when the worker-side
    dependency (google.protobuf) is present the streamed result must be
    bitwise-equal to the batch walk, the same equivalence the
    applyInPandasWithState path passes. In this container the
    dependency is absent (r5/r6 verified), so the execution leg skips
    at that documented boundary."""
    import pytest as _pytest

    from crypto_data_pipeline_with_kafka_spark.operators.recursive import (
        recursive_indicators,
    )
    from crypto_data_pipeline_with_kafka_spark.streaming.pipeline import (
        run_to_memory,
    )
    from crypto_data_pipeline_with_kafka_spark.streaming.stateful import (
        has_transform_with_state,
        streaming_recursive_indicators_tws,
    )

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "src")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    as_ns = events.withColumn("ts", F.unix_micros("ts") * 1000)
    ts_back = F.timestamp_micros(F.expr("ts div 1000"))
    as_ns.filter(ts_back < cutoff).coalesce(1).write.parquet(src)
    as_ns.filter(ts_back >= cutoff).coalesce(1).write.mode("append").parquet(src)

    raw_schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )

    def raw(s):
        return (
            s.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )

    plan = streaming_recursive_indicators_tws(raw(spark))
    # analysis ran: streaming flag + the full output schema resolved
    assert plan.isStreaming
    assert plan.columns == [
        "user_id", "event_id", "ts", "value", "ema", "rsi_wilder",
    ]

    if not has_transform_with_state():
        _pytest.skip(
            "google.protobuf not installed: transformWithStateInPandas "
            "workers cannot start in this container — plan attested, "
            "execution gated (SCALE.md documented boundary)"
        )

    got = run_to_memory(
        lambda s: streaming_recursive_indicators_tws(raw(s)),
        output_mode="append",
        name_prefix="tws",
        spark=spark,
    )
    want = recursive_indicators(events, alpha=0.125, period=14)
    g = got.select("user_id", "event_id", "ema", "rsi_wilder")
    w = want.select("user_id", "event_id", "ema", "rsi_wilder")
    assert g.count() == w.count() == events.count()
    assert g.exceptAll(w).count() == 0 and w.exceptAll(g).count() == 0


def _stage_files(frames, src):
    """Write each frame as one parquet file in ``src`` with strictly
    increasing mtimes, so a file-source stream reading one file per
    trigger delivers frame i as epoch i."""
    import glob as _glob
    import os
    import time as _time

    os.makedirs(src)
    now = _time.time()
    for i, df in enumerate(frames):
        stage = f"{src}/_stage"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        dst = f"{src}/batch{i}.parquet"
        shutil.move(_glob.glob(f"{stage}/part-*.parquet")[0], dst)
        shutil.rmtree(stage)
        os.utime(dst, (now + 10 * i, now + 10 * i))


def _crash_case(spark, tmp_path, kind):
    """(run, read, n_rows) for one store stream over three staged files:
    ``run(store_dir)`` drains the whole source into stores under
    ``store_dir`` and returns the progress list; ``read(store_dir)``
    returns a tuple of sorted row lists, one per store table, so a row
    stored twice shows; ``n_rows`` is the source's row count."""
    import os

    from crypto_data_pipeline_with_kafka_spark.streaming import pipeline

    sf = os.path.join(os.path.dirname(SF), "sf0.001")  # the smallest fixture
    src = str(tmp_path / "src")

    def sorted_rows(path, cols):
        return sorted(tuple(r) for r in spark.read.parquet(path).select(*cols).collect())

    if kind == "indicator":
        events = load_table(spark, sf, "events")
        as_ns = events.withColumn("ts", F.unix_micros("ts") * 1000)
        ts_back = F.timestamp_micros(F.expr("ts div 1000"))
        c1 = F.lit("2024-01-11").cast("timestamp")
        c2 = F.lit("2024-01-21").cast("timestamp")
        _stage_files(
            [
                as_ns.filter(ts_back < c1),
                as_ns.filter((ts_back >= c1) & (ts_back < c2)),
                as_ns.filter(ts_back >= c2),
            ],
            src,
        )

        def run(store):
            return pipeline.run_incremental_indicator_stream(
                spark, src, f"{store}/events", f"{store}/ind", lookback_days=60
            )

        def read(store):
            return (
                sorted_rows(f"{store}/events", ["event_id"]),
                sorted_rows(f"{store}/ind", ["user_id", "ts", "type_name", "ind_value"]),
            )

        return run, read, events.count()

    if kind == "ivf":
        from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
            _ensure_ann_base,
            _seed_centroids,
        )

        emb = load_table(spark, sf, "embeddings")
        base = _ensure_ann_base(emb, "vec_id")
        cents = _seed_centroids(base, 8, "vec_id").localCheckpoint()
        base.unpersist()
        cuts = [(0, 167), (167, 334), (334, 500)]
        _stage_files(
            [emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)) for lo, hi in cuts],
            src,
        )

        def run(store):
            if not target_exists(spark, f"{store}/centroids"):
                cents.write.parquet(f"{store}/centroids")
            return pipeline.run_incremental_ivf_stream(spark, src, store, min_cosine=0.2)

        def read(store):
            return (
                sorted_rows(f"{store}/flagged", ["vec_id", "match_id", "cosine"]),
                sorted_rows(f"{store}/cells", ["vec_id", "centroid_id", "batch_id"]),
            )

        return run, read, emb.count()

    docs = load_table(spark, sf, "documents")
    cuts = [(0, 167), (167, 334), (334, 500)]
    _stage_files(
        [docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)) for lo, hi in cuts],
        src,
    )
    runner, cols = {
        "minhash": (pipeline.run_incremental_dedup_stream, ["doc_id", "dup_of", "jaccard"]),
        "hamming": (pipeline.run_incremental_hamming_stream, ["doc_id", "dup_of", "hamming"]),
        "winnow": (pipeline.run_incremental_winnow_stream, ["doc_id", "overlap_of", "shared"]),
    }[kind]

    def run(store):
        return runner(spark, src, store)

    def read(store):
        return (sorted_rows(f"{store}/flagged", cols),)

    return run, read, docs.count()


@pytest.mark.parametrize(
    "kind",
    [
        "minhash",
        "indicator",
        "hamming",
        pytest.param(
            "winnow",
            marks=pytest.mark.xfail(
                raises=StreamingQueryException,
                strict=True,
                reason="the winnowing store refuses the re-drain from epoch 0 "
                "once epoch 1 is written (check_store_batch_monotonic: batch "
                "ids must not decrease), so a crash after epoch 1's writes "
                "cannot be recovered by re-running the stream",
            ),
        ),
        "ivf",
    ],
)
def test_stream_crash_restart_equals_uninterrupted_run(spark, tmp_path, monkeypatch, kind):
    """Crash-restart equivalence of every store stream: a fault injected
    at epoch 1 either BEFORE the step's writes or AFTER them (the crash
    between sink write and offset commit) fails the drain; a second call
    on the same source and stores re-drains from epoch 0 (no durable
    checkpoint: progress for batches 0, 1 and 2 again) and leaves the
    stores equal, row for row, to an uninterrupted run — the batch_id=N
    overwrite and the event anti-join make the re-drain idempotent. The fault injector wraps the step that
    run_store_stream drives; the engine has no hook for it."""
    from crypto_data_pipeline_with_kafka_spark.streaming import pipeline

    real = pipeline.run_store_stream

    def crash_at_epoch_1(where):
        def run_store_stream(stream, step):
            def faulty(batch, epoch_id):
                if epoch_id == 1 and where == "before":
                    raise RuntimeError("injected fault before epoch 1's writes")
                step(batch, epoch_id)
                if epoch_id == 1 and where == "after":
                    raise RuntimeError("injected fault after epoch 1's writes")

            return real(stream, faulty)

        return run_store_stream

    run, read, n_rows = _crash_case(spark, tmp_path, kind)
    run(str(tmp_path / "clean"))
    want = read(str(tmp_path / "clean"))
    assert all(want)  # no store table is empty
    if kind == "indicator":  # each event stored once
        assert len(want[0]) == len(set(want[0])) == n_rows

    for where in ("before", "after"):
        store = str(tmp_path / where)
        with monkeypatch.context() as m:
            m.setattr(pipeline, "run_store_stream", crash_at_epoch_1(where))
            with pytest.raises(StreamingQueryException, match=f"injected fault {where}"):
                run(store)
        progress = run(store)
        assert [p["batchId"] for p in progress] == [0, 1, 2]
        assert read(store) == want, where

"""The three workloads: the operations of one pass, how each is timed,
and how each timed result is checked.

Every timed query action is a single Spark action that returns the row
count and an order-independent digest of all output columns, so the
result that is timed is the result that is checked, and no column can
be pruned away. Expected digests come from the query's DuckDB oracle
(the registry's ``oracle_sql``) run over the same generated files and
hashed by the same Spark expression; the ingest stores are checked
against one-shot batch recomputes.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crypto_data_pipeline_with_kafka_spark import warehouse
from crypto_data_pipeline_with_kafka_spark.catalog import load_table
from crypto_data_pipeline_with_kafka_spark.operators.dedup import minhash_lsh_dedup
from crypto_data_pipeline_with_kafka_spark.operators.indicators import (
    WINDOW_ROWS,
    compute_indicators,
)
from crypto_data_pipeline_with_kafka_spark.plans.registry import oracle_sql, queries
from crypto_data_pipeline_with_kafka_spark.streaming import pipeline

from perfbench import inputs
from perfbench.tracing import Tracer

DASHBOARD = (
    "agg_q1",
    "agg_q3_shipping_priority",
    "agg_q5_local_supplier_volume",
    "win_tumbling_candles",
    "win_sessionize",
    "rel_asof_join",
    "topk_per_group",
    "dedup_exact",
    "text_profile",
    "news_pipeline",
)
CURATION = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "sim_ann_suite",
    "udtf_explode_tokens",
)
INGEST_QUERIES = ("stream_interval_join", "ind_pipeline")
# queries that get a per-query metric suffix in the traced run
TRACED_QUERIES = DASHBOARD + CURATION + ("ind_pipeline",)

INGEST_EVENT_FILES = 2
INGEST_DOC_FILES = 2
INDICATOR_COLS = ("user_id", "ts", "type_name", "ind_value")
EVENT_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")

Digest = tuple[int, int]  # (rows, sum of row hashes)


def digest(df: DataFrame) -> Digest:
    """Row count and an order-independent hash of every column, in one
    action. NaN hashes as NULL and -0.0 as 0.0, matching how the oracle
    comparison treats them."""
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.when(F.isnan(c), F.lit(None)).when(c == 0, F.lit(0.0)).otherwise(c)
        cols.append(c)
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


def oracle_digest(spark: SparkSession, sql: str, sf_dir: str, like: T.StructType) -> Digest:
    """Run ``sql`` in DuckDB over the parquet files of ``sf_dir``, load
    the result into Spark with the engine result's column types, and
    digest it the same way as the engine's result."""
    con = duckdb.connect()
    try:
        for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
            name = os.path.basename(p)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        tbl = con.execute(sql).arrow()
    finally:
        con.close()
    want = {f.name: f.dataType for f in like.fields}
    if sorted(tbl.column_names) != sorted(want):
        raise AssertionError(f"oracle columns {tbl.column_names} != engine {sorted(want)}")
    sdf = spark.createDataFrame(tbl.to_pandas())
    return digest(sdf.select(*[F.col(f"`{c}`").cast(t).alias(c) for c, t in want.items()]))


@dataclass
class Outcome:
    """One timed operation. ``check`` runs after the pass, untimed, and
    returns an empty string when the result is right."""

    op: str
    seconds: float
    check: Callable[[], str]


def _same(got, want) -> str:
    return "" if got == want else f"got {got}, want {want}"


class Workload:
    """One pass = every operation once. Subclasses define the ops."""

    name = ""

    def __init__(self, spark: SparkSession, tracer: Tracer, work: str, seed: int, size: str):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.tables = inputs.make_tables(seed, inputs.SIZES[size])
        self.dir = inputs.write_tables(self.tables, os.path.join(work, "tables"))
        self.expected: dict[str, Digest] = {}
        self.after_action: Callable[[], None] = lambda: None

    def warm_up(self) -> None:
        """Untimed work before the timed passes; none by default."""

    def ops(self, pass_no: int) -> list[str]:
        raise NotImplementedError

    def run_op(self, op: str, pass_no: int) -> Outcome:
        raise NotImplementedError

    def run_query(self, name: str) -> Outcome:
        """Registry call plus the digest action, on a cold cache."""
        self.spark.catalog.clearCache()
        with self.tracer.span("op", op=name, kind="query") as s:
            with self.tracer.span("build", op=name):
                df = queries()[name](self.spark, self.dir)
            with self.tracer.span("action", op=name):
                got = digest(df)
            self.after_action()

        def check() -> str:
            if name not in self.expected:
                self.expected[name] = oracle_digest(
                    self.spark, oracle_sql()[name], self.dir, df.schema
                )
            return _same(got, self.expected[name])

        return Outcome(name, s.dur, check)


class QueryMix(Workload):
    """A closed loop over registry queries; the seed permutes each pass."""

    names: tuple[str, ...] = ()

    def ops(self, pass_no: int) -> list[str]:
        rng = np.random.default_rng([self.seed, pass_no])
        return [self.names[i] for i in rng.permutation(len(self.names))]

    def run_op(self, op: str, pass_no: int) -> Outcome:
        return self.run_query(op)


class Dashboard(QueryMix):
    name = "dashboard"
    names = DASHBOARD


class Curation(QueryMix):
    name = "curation"
    names = CURATION


class Ingest(Workload):
    """Drain a backlog of arriving event and document files into empty
    stores, run the stateful stream join and the indicator batch job,
    then read a date range of the written events store back."""

    name = "ingest"
    steps = ("indicator_stream", "minhash_stream") + INGEST_QUERIES + ("read_events_range",)

    def __init__(self, spark, tracer, work, seed, size):
        super().__init__(spark, tracer, work, seed, size)
        rng = np.random.default_rng([seed, 1])
        ev, docs = self.tables["events"], self.tables["documents"]
        self.events_src = os.path.join(work, "arrive", "events")
        self.docs_src = os.path.join(work, "arrive", "documents")
        self.event_arrival = inputs.write_event_batches(rng, ev, self.events_src, INGEST_EVENT_FILES)
        self.doc_arrival = inputs.write_document_batches(docs, self.docs_src, INGEST_DOC_FILES)
        self.n_events = ev.num_rows
        self.input_bytes = sum(
            os.path.getsize(p) for p in self.event_arrival.files + self.doc_arrival.files
        )
        # A recomputed row reads the 13 rows before it in its frame, and
        # RSI's first diff in that frame reads one more: 15 events.
        self.lookback_days = inputs.lookback_days(ev, WINDOW_ROWS + 1)
        start = int(rng.integers(1, 16))
        self.range = (f"2024-01-{start:02d}", f"2024-01-{start + 14:02d}")
        # one-shot batch references for the stores (untimed)
        events = load_table(spark, self.dir, "events")
        self.expected["indicator_store"] = digest(
            compute_indicators(events).select(*INDICATOR_COLS)
        )
        day = F.date_format("ts", "yyyy-MM-dd")
        self.expected["read_events_range"] = digest(
            events.filter((day >= self.range[0]) & (day < self.range[1])).select(*EVENT_COLS)
        )
        self.expected_flags = _best_earlier(
            minhash_lsh_dedup(load_table(spark, self.dir, "documents"))
        )
        self.stores: dict[str, str] = {}

    def warm_up(self) -> None:
        """Drain one small file through each stream runner into scratch
        stores. A cold JVM's first micro-batches cost several times a warm
        one's and vary from run to run; this keeps that out of the pass."""
        d = os.path.join(self.work, "warm")
        tiny = inputs.make_tables(self.seed, inputs.SIZES["tiny"])
        ev_src = os.path.join(d, "events")
        inputs.write_document_batches(tiny["documents"], os.path.join(d, "documents"), 1)
        inputs.write_tables({"events": tiny["events"]}, ev_src)
        pipeline.run_incremental_indicator_stream(
            self.spark,
            ev_src,
            os.path.join(d, "events_store"),
            os.path.join(d, "indicators"),
            lookback_days=inputs.lookback_days(tiny["events"], WINDOW_ROWS + 1),
        )
        pipeline.run_incremental_dedup_stream(
            self.spark, os.path.join(d, "documents"), os.path.join(d, "minhash")
        )

    def ops(self, pass_no: int) -> list[str]:
        return list(self.steps)

    def run_op(self, op: str, pass_no: int) -> Outcome:
        if op in INGEST_QUERIES:
            return self.run_query(op)
        if op == "indicator_stream":
            root = os.path.join(self.work, f"stores-{pass_no}")
            self.stores = {k: os.path.join(root, k) for k in ("events", "indicators", "minhash")}
            stores = dict(self.stores)
            with self.tracer.span("op", op=op, kind="stream") as s:
                pipeline.run_incremental_indicator_stream(
                    self.spark,
                    self.events_src,
                    stores["events"],
                    stores["indicators"],
                    lookback_days=self.lookback_days,
                )
            return Outcome(op, s.dur, lambda: self._check_indicator_stores(stores))
        if op == "minhash_stream":
            store = self.stores["minhash"]
            with self.tracer.span("op", op=op, kind="stream") as s:
                pipeline.run_incremental_dedup_stream(self.spark, self.docs_src, store)

            def check() -> str:
                flags = self.spark.read.parquet(f"{store}/flagged").collect()
                got = {(r.doc_id, r.dup_of, round(r.jaccard, 12)) for r in flags}
                return "" if got == self.expected_flags else "flags differ from the one-shot run"

            return Outcome(op, s.dur, check)
        if op == "read_events_range":
            with self.tracer.span("op", op=op, kind="read") as s:
                with self.tracer.span("call", op=op):
                    df = warehouse.read_events_range(self.spark, self.stores["events"], *self.range)
                with self.tracer.span("action", op=op):
                    got = digest(df.select(*EVENT_COLS))
                self.after_action()
            return Outcome(op, s.dur, lambda: _same(got, self.expected[op]))
        raise KeyError(op)

    def _check_indicator_stores(self, stores: dict[str, str]) -> str:
        ev = self.spark.read.parquet(stores["events"])
        row = ev.agg(F.count(F.lit(1)).alias("n"), F.countDistinct("event_id").alias("d")).first()
        if not row["n"] == row["d"] == self.n_events:
            return f"events store: {row['n']} rows, {row['d']} ids, want {self.n_events} once each"
        got = digest(self.spark.read.parquet(stores["indicators"]).select(*INDICATOR_COLS))
        return _same(got, self.expected["indicator_store"])

    def files_written(self) -> int:
        return sum(
            len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))
            for d in self.stores.values()
        )

    def range_files(self) -> int:
        lo, hi = self.range
        return sum(
            len(glob.glob(os.path.join(p, "*.parquet")))
            for p in glob.glob(os.path.join(self.stores["events"], "dt=*"))
            if lo <= os.path.basename(p)[3:] < hi
        )


def _best_earlier(pairs: DataFrame) -> set:
    """Each flagged document's best earlier duplicate from a one-shot
    pair list: highest jaccard, ties to the smallest id."""
    from pyspark.sql import Window

    w = Window.partitionBy("id_b").orderBy(F.col("jaccard").desc(), F.col("id_a").asc())
    rows = pairs.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").collect()
    return {(r.id_b, r.id_a, round(r.jaccard, 12)) for r in rows}


WORKLOADS = {w.name: w for w in (Dashboard, Curation, Ingest)}

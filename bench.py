#!/usr/bin/env python
"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Headline set = the flagship pipeline + the heavy representatives of each
operator family (window analytics, agg, as-of join, candles, dedup
family, similarity family, text scoring, real streaming) — the queries
whose plans matter at 100 TB.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crypto_data_pipeline_with_kafka_spark.plans.registry import queries  # noqa: E402
from crypto_data_pipeline_with_kafka_spark.session import get_spark  # noqa: E402

HEADLINE = (
    "ind_pipeline",
    "agg_q1",
    "win_tumbling_candles",
    "win_sessionize",
    "rel_asof_join",
    "topk_per_group",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_cosine_topk",
    "sim_ann_suite",
    "text_profile",
    "news_pipeline",  # sentiment hot path (built-in fold) + dim + anti-join
    "stream_tumbling_counts",
    "stream_interval_join",  # stateful stream-stream join (round 3)
)


def _repo_dir() -> str:
    return os.path.dirname(os.path.abspath(__file__))


def _bench_history(
    sf: float | None = None, cpus: int | None = None
) -> dict[int, dict[str, float]]:
    """Per-round per-query minima from the driver's BENCH_r*.json
    artifacts on disk: {round: {query: sec}}. ``sf`` restricts to
    rounds benched at that scale factor — floors from an sf0.1 history
    mean nothing for an sf1 run, and one foreign-sf artifact in the
    lookback window would otherwise poison the next rounds' floors.
    ``cpus`` likewise restricts to rounds benched at that core count
    (the artifact's ``cpus`` field): a 32-core floor is unreachable on
    4 cores, and chasing it spends every slot's full sample budget.
    Malformed or pre-parse files are skipped — history is advisory."""
    import glob
    import re

    hist: dict[int, dict[str, float]] = {}
    for p in glob.glob(os.path.join(_repo_dir(), "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if not m:
            continue
        try:
            with open(p) as fh:
                artifact = json.load(fh)
            parsed = artifact.get("parsed") or {}
            if sf is not None and float(parsed.get("sf", -1.0)) != sf:
                continue
            if cpus is not None and artifact.get("cpus") != cpus:
                continue
            q = parsed.get("queries")
            if isinstance(q, dict):
                hist[int(m.group(1))] = {
                    k: float(v) for k, v in q.items()
                }
        except (OSError, ValueError, TypeError):
            continue
    return hist


def _current_round() -> int:
    """The round this run belongs to: one past the newest recorded
    BENCH_r{N}. Artifacts alone CANNOT distinguish a post-BENCH
    verification re-run of round N from the first builder gate run of
    round N+1 (both see BENCH max = N) — an inference that also
    scanned SCALE10_r* names was built and REJECTED in r11 review: a
    max() over both families never files LOWER than bench-next, so it
    cannot deliver the same-round reuse it promised, and one
    forward-pinned artifact (a `--round 13` typo) would drag every
    later unpinned run forward until BENCH catches up, a regression
    the bench-only rule self-corrects. The explicit controls are the
    fix: verification re-runs pass --no-artifact (persist nothing);
    builders pass --round / SPARK_GRAFT_ROUND to pin. Repeated builder
    gate runs within one round infer the same name and overwrite it —
    that IS the reuse. A malformed override falls back to inference
    instead of crashing: this is resolved at the end of a multi-minute
    gate run, and a naming hiccup must not turn a zero-failure run
    into a nonzero exit."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        try:
            return int(env)
        except ValueError:
            print(
                f"# SPARK_GRAFT_ROUND={env!r} is not an integer — "
                "inferring from BENCH_r*.json",
                file=sys.stderr,
            )
    hist = _bench_history()
    return (max(hist) + 1) if hist else 1


def _floor_from_history(
    name: str, hist: dict[int, dict[str, float]], lookback: int = 3
) -> float | None:
    """A query's quiet-floor estimate: the min of its per-round minima
    over the most recent ``lookback`` rounds of ``hist`` (an sf- and
    cpus-scoped ``_bench_history`` result, loaded ONCE by the caller — not
    re-globbed per query) that measured it. Recent rounds only —
    headline slots GROW legs between rounds, so an all-time min would
    chase a floor the current (larger) surface can no longer reach."""
    vals = [
        hist[r][name]
        for r in sorted(hist, reverse=True)
        if name in hist[r]
    ][:lookback]
    return min(vals) if vals else None


def _synthesize_scale10(spark, sf_dir: str, out_dir: str) -> None:
    """Deterministically synthesize the 10× corpus the scale gate runs
    on: 10 copies of documents (text vowel-rotated per copy, so copies
    are near-dup-distinct) and embeddings (leading k of every 10 dims
    sign-flipped per copy k, decorrelating copies) with offset ids. No
    Date.now()/rand() anywhere — same input ⇒ byte-identical corpus."""
    from functools import reduce

    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    doc_copies = []
    for k in range(10):
        t = F.col("text")
        for _ in range(k):
            t = F.translate(t, "aeiou", "eioua")
        doc_copies.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * n))
            .withColumn("text", t)
        )
    reduce(lambda a, b: a.unionByName(b), doc_copies).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "documents.parquet"))

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    m = emb.agg(F.max("vec_id")).first()[0] + 1
    def flip(k: int):
        return F.transform(
            "embedding",
            lambda x, i: x
            * F.when((i % 10) < F.lit(k), F.lit(-1.0)).otherwise(F.lit(1.0)),
        ).cast("array<float>")

    emb_copies = []
    for k in range(10):
        emb_copies.append(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(k * m))
            .withColumn("embedding", flip(k))
        )
    reduce(lambda a, b: a.unionByName(b), emb_copies).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "embeddings.parquet"))


def _synth_multimodal(docs):
    """Deterministic per-doc image/audio/video payloads for the curate
    scale gate, synthesized DISTRIBUTED (md5-derived bytes through the
    repo's real codec-free formats: 8×8 P5 PGM, PCM16 mono WAV, mono
    y4m) so the modality gates scale with the corpus instead of
    riding a fixed side input. Unique random-looking payloads ⇒ no
    near-dups drop; the gate times hash + banding + join cost."""
    import struct as _struct

    from pyspark.sql import functions as F

    def md5_bytes(tag: str, n16: int):
        # n16 16-byte blocks, folded once per row (interpreted lambda,
        # but O(n16) per row with no outer-subtree re-evaluation)
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(n16)),
            F.lit(b""),
            lambda acc, i: F.concat(
                acc,
                F.unhex(
                    F.md5(
                        F.concat_ws(
                            "|", F.lit(tag), F.col("doc_id"), i
                        )
                    )
                ),
            ),
        )

    images = docs.select(
        "doc_id",
        F.concat(F.lit(b"P5\n8 8\n255\n"), md5_bytes("img", 4)).alias(
            "payload"
        ),
    )
    data_len = 1024
    fmt = _struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body_prefix = (
        b"fmt " + _struct.pack("<I", len(fmt)) + fmt
        + b"data" + _struct.pack("<I", data_len)
    )
    wav_hdr = (
        b"RIFF"
        + _struct.pack("<I", 4 + len(body_prefix) + data_len)
        + b"WAVE"
        + body_prefix
    )
    audio = docs.select(
        "doc_id",
        F.concat(F.lit(wav_hdr), md5_bytes("aud", data_len // 16)).alias(
            "payload"
        ),
    )
    y4m_hdr = b"YUV4MPEG2 W8 H8 F25:1 Ip A1:1 Cmono\n"
    video = docs.select(
        "doc_id",
        F.concat(
            F.lit(y4m_hdr),
            F.lit(b"FRAME\n"), md5_bytes("vf0", 4),
            F.lit(b"FRAME\n"), md5_bytes("vf1", 4),
            F.lit(b"FRAME\n"), md5_bytes("vf2", 4),
        ).alias("payload"),
    )
    return images, audio, video


# Wall-clock at 10× data must stay under this multiple for the
# sub-linear dedup family — the regression gate that keeps a future leg
# from going accidentally quadratic (SCALE.md 'Measured 10× scale-up').
SCALE10_DEDUP_GATE = 4.0
# Incremental-store flatness gate: per-batch wall of the LAST of 10
# equal-size batches vs the FIRST (empty index). The design claim is
# O(batch + index scan + candidates) per batch — wall must not track
# index size; 3× leaves room for the growing (but tiny) index scan and
# candidate volume while catching an accidental per-batch index
# reshuffle (which would trend toward ~10×).
SCALE10_STORE_GATE = 3.0
# PQ train+encode and store-retrain linearity gate: both are designed
# as ONE distributed pass over the corpus (train = m
# TakeOrderedAndProject picks; encode = in-row folds; retrain = one
# re-assignment + layout exchange), so 10× data must cost well under
# 4× wall at this size (overhead-dominated locally; an accidental
# corpus×corpus join or per-row driver sync would blow straight
# through).
SCALE10_PQ_GATE = 4.0
# curate_corpus everything-on linearity gate: the composed pipeline is
# a chain of per-stage linear passes over the shrinking survivor set
# (flag-column staging, ONE stats aggregation), so 10× data must stay
# under 4× wall — an accidental double-execution of the staged frame
# or a quadratic stage interaction trends well past it.
SCALE10_CURATE_GATE = 4.0
# NB quality-classifier train+score linearity gate (r11): training is
# ONE groupBy(bucket) shuffle with map-side combine (output capped at
# num_buckets rows) plus an O(1)-row totals collect; scoring is a
# broadcast bucket join + one groupBy(id). Both linear — 10× docs must
# stay well under 4× wall; a per-row driver sync or an un-broadcast
# model join would blow through.
SCALE10_MODEL_GATE = 4.0
# Quantized-serve-tier linearity gate (r12): BQ1 and MRL serving are
# ONE corpus stream each (in-row encode / prefix slice riding the
# scan, a broadcast of O(queries) rows, per-pair work that is
# dims/32 popcounts or prefix-length folds) plus one per-query window
# — all linear in the corpus. 10× corpus must stay under 4× wall; a
# per-pair decode, an un-broadcast query side, or a corpus×corpus
# exchange would blow through.
SCALE10_SERVE_GATE = 4.0
# Fusion-tier corpus-INDEPENDENCE gate (r13): rrf/recall/ndcg/
# precision consume RANKINGS — O(queries·k) rows regardless of corpus
# size — so with the tier rankings pre-built outside the timed
# region, the fused+evaluated wall at a 10× corpus must be FLAT, not
# merely linear. 1.5× bounds launch-overhead noise on sub-second
# walls (min-of-3 sampling); an operator that accidentally reaches
# back into the corpus (re-scoring, an un-pinned ranking recompute)
# tracks the 10× data and blows through.
SCALE10_FUSION_GATE = 1.5


def run_scale10(
    round_override: int | None = None, write_artifact: bool = True
) -> int:
    """`bench.py --scale10`: the repeatable form of SCALE.md's 10×
    measurement. Synthesizes the 10× corpus deterministically, runs the
    heavy dedup operators and both IVF tunings cold at 1× and 10×, and
    GATES: every dedup ratio ≤ SCALE10_DEDUP_GATE, and the ∝√corpus IVF
    tuning must beat the fixed-C anti-pattern. Prints ONE JSON line;
    exit 1 on gate failure.

    ``--round N`` pins the SCALE10_r{N}.json artifact name (same as
    SPARK_GRAFT_ROUND); ``--no-artifact`` runs the gates without
    writing any artifact — the verification-rerun mode, so a judge or
    ad-hoc pass cannot mint (or shadow) a builder round's name."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # resolved BEFORE the multi-minute run
    round_no = round_override if round_override is not None else _current_round()
    spark = get_spark(app_name="crypto_data_pipeline_with_kafka_spark-scale10")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
        bq_encode,
        bq_topk,
        ivf_ann_pairs,
        mrl_prefix_encode,
        mrl_topk,
        pq_encode,
        pq_train,
        with_dbl_and_approx_norm,
    )

    qs = queries()

    def load_emb(d):
        return spark.read.parquet(os.path.join(d, "embeddings.parquet"))

    def ivf_at(d, num_centroids):
        base = with_dbl_and_approx_norm(load_emb(d))
        return ivf_ann_pairs(
            base, num_centroids=num_centroids, probes=1, min_cosine=0.8
        )

    def pq_train_encode(d):
        emb = load_emb(d)
        books = pq_train(emb, num_subvectors=8, codes_per_subvector=16, dim=64)
        return pq_encode(emb, books)

    from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
        EXACT_SUBSTR_PAPER_K,
        chunk_level_dedup,
        duplicated_spans,
    )

    class _CountsThenReleases:
        """Duck-typed `.count()` carrier: materializes the wrapped
        frame, then unpersists the operator's internal caches LOCALLY
        (the caches= out-param contract) — the cleanup no longer rides
        the timing loop's global clearCache(), so the op can move out
        of that loop without leaking two corpus-wide frames per run."""

        def __init__(self, df, caches):
            self._df, self._caches = df, caches

        def count(self) -> int:
            try:
                return self._df.count()
            finally:
                for c in self._caches:
                    c.unpersist()

    def chunk_cdc(d):
        # CDC mode standalone (the registered dedup_ngram_jaccard leg
        # covers value-correctness; THIS gates corpus-level linearity —
        # the optimizer-rewrite class that inlined the md5 subtree 14×
        # mid-r8 would blow straight through 4×).
        caches: list = []
        df = chunk_level_dedup(
            spark.read.parquet(os.path.join(d, "documents.parquet")),
            boundaries="content",
            caches=caches,
        )
        return _CountsThenReleases(df, caches)

    def nb_quality(d):
        # train+score on the same corpus with a content-derived label
        # split (text-length parity — both classes always non-empty);
        # the gate times the PLAN SHAPE (one bucket shuffle + the
        # O(1)-row totals collect, then broadcast-join scoring), the
        # label semantics are irrelevant to it
        from crypto_data_pipeline_with_kafka_spark.functions.quality_model import (
            score_with_quality_classifier,
            train_quality_classifier,
        )

        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        labeled = docs.withColumn(
            "label", (F.length("text") % 2).cast("int")
        )
        model = train_quality_classifier(labeled)
        return score_with_quality_classifier(docs, model)

    def bq_serve(d):
        # the r12 1-bit serve tier end to end: encode the corpus to
        # packed sign lanes (the store layout), hamming-shortlist 20
        # queries, exact re-rank — gates that serving stays one linear
        # corpus stream (the codes relation is built in-pass here; the
        # persisted-store read-back is the registered leg's concern)
        base = with_dbl_and_approx_norm(load_emb(d))
        codes = bq_encode(base, "vec_id", "vdbl")
        return bq_topk(base, codes=codes, query_ids_max=20, k=5)

    def mrl_serve(d):
        # the r12 truncated-dimension serve tier: prefix store build +
        # prefix-cosine shortlist + full-dim exact re-rank (double
        # mode — the serving default; the exact mode's extra decimal
        # folds are margin-bounded and gated by the registered leg)
        base = with_dbl_and_approx_norm(load_emb(d))
        store = mrl_prefix_encode(base, 16, vec_col="vdbl")
        return mrl_topk(
            base, prefix_dims=16, query_ids_max=20, k=5, prefix=store
        )

    OPS = {
        "dedup_minhash_lsh": lambda d: qs["dedup_minhash_lsh"](spark, d),
        "dedup_ngram_jaccard": lambda d: qs["dedup_ngram_jaccard"](spark, d),
        "dedup_simhash": lambda d: qs["dedup_simhash"](spark, d),
        "dedup_chunk_cdc": chunk_cdc,
        # r13: ExactSubstr duplicated spans — inverted-index +
        # islands; linear in corpus tokens + duplicated positions,
        # same ≤4x dedup gate
        "dedup_xdup_spans": lambda d: duplicated_spans(
            spark.read.parquet(os.path.join(d, "documents.parquet"))
        ),
        # r14: the same pass at the paper's production operating point
        # (Lee et al.'s 50-token threshold) — wider grams flip the
        # posting-list density regime (near-unique grams, tiny dup
        # set), so the fixture-k gate alone would not cover production
        "dedup_xdup_k50": lambda d: duplicated_spans(
            spark.read.parquet(os.path.join(d, "documents.parquet")),
            k=EXACT_SUBSTR_PAPER_K,
        ),
        "ivf_fixed_c32": lambda d: ivf_at(d, 32),
        "ivf_sqrt_auto": lambda d: ivf_at(d, "auto"),
        "pq_train_encode": pq_train_encode,
        "model_nb_quality": nb_quality,
        "serve_bq1_topk": bq_serve,
        "serve_mrl_topk": mrl_serve,
    }

    out_dir = os.environ.get("SPARK_GRAFT_SCALE10_DIR") or tempfile.mkdtemp(
        prefix="spark_graft_scale10_"
    )
    ephemeral = "SPARK_GRAFT_SCALE10_DIR" not in os.environ
    try:
        _synthesize_scale10(spark, sf_dir, out_dir)
        report, failures = {}, []
        for name, fn in OPS.items():
            walls = {}
            for label, d in (("wall_1x", sf_dir), ("wall_10x", out_dir)):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn(d).count()
                walls[label] = round(time.perf_counter() - t0, 3)
            ratio = round(walls["wall_10x"] / max(walls["wall_1x"], 1e-9), 2)
            report[name] = {**walls, "ratio": ratio}
            print(f"# {name}: {walls} ratio {ratio}x", file=sys.stderr)
            if name.startswith("dedup_") and ratio > SCALE10_DEDUP_GATE:
                failures.append(f"{name} ratio {ratio} > {SCALE10_DEDUP_GATE}")
            if name.startswith("pq_") and ratio > SCALE10_PQ_GATE:
                failures.append(f"{name} ratio {ratio} > {SCALE10_PQ_GATE}")
            if name.startswith("model_") and ratio > SCALE10_MODEL_GATE:
                failures.append(f"{name} ratio {ratio} > {SCALE10_MODEL_GATE}")
            if name.startswith("serve_") and ratio > SCALE10_SERVE_GATE:
                failures.append(f"{name} ratio {ratio} > {SCALE10_SERVE_GATE}")
        if report["ivf_sqrt_auto"]["wall_10x"] > report["ivf_fixed_c32"]["wall_10x"]:
            failures.append(
                "sqrt-C IVF tuning no longer beats fixed C at 10x "
                f"({report['ivf_sqrt_auto']['wall_10x']} vs "
                f"{report['ivf_fixed_c32']['wall_10x']})"
            )
        # the sqrt-auto RAW wall ratio is expected ~√10× ABOVE linear
        # (√(10)·C centroids scored per row on 10× rows ≈ √10 ≈ 3.16×
        # more work per unit data) — it is NOT one of the ≤4× gated
        # ratios, its gate is the absolute beats-fixed-C check above;
        # record the work-normalized ratio so the artifact self-explains
        sq = report["ivf_sqrt_auto"]
        sq["work_normalized_ratio"] = round(sq["ratio"] / 10 ** 0.5, 2)
        sq["note"] = (
            "raw ratio tracks sqrt(C)*corpus work (~3.16x work per unit "
            "data at 10x); gated on beating ivf_fixed_c32 at 10x, not on "
            "the dedup <=4x bound — compare work_normalized_ratio"
        )

        # fusion-tier corpus-independence (r13): build the two serve
        # rankings OUTSIDE the timed region (localCheckpoint pins them
        # as materialized blocks — O(queries·k) rows each), then time
        # the WHOLE fusion family composed over them: rrf_fuse +
        # recall@k + ndcg@k + precision@k. The claim being gated is
        # stronger than the ≤4× linear gates: fusion cost is a
        # function of (queries, k, sources) ONLY, so the 10×-corpus
        # wall must be flat. min-of-3 damps launch-overhead noise —
        # these walls are sub-second by design.
        from crypto_data_pipeline_with_kafka_spark.operators.fusion import (
            ndcg_at_k,
            precision_at_k,
            recall_at_k,
            rrf_fuse,
        )

        def fusion_wall(d: str) -> float:
            # the rankings are the SAME tiers the serve gates time —
            # reuse those helpers so a tier-parameter change cannot
            # silently diverge the two gates

            def rk(df):
                return df.select(
                    F.col("id_a").alias("query_id"),
                    F.col("id_b").alias("doc_id"),
                    F.col("rnk").alias("rank"),
                )

            bq_rk = rk(bq_serve(d)).localCheckpoint()
            mrl_rk = rk(mrl_serve(d)).localCheckpoint()
            walls = []
            for _ in range(3):
                t0 = time.perf_counter()
                fused = rrf_fuse([("bq1", bq_rk), ("mrl", mrl_rk)])
                n = (
                    fused.count()
                    + recall_at_k(mrl_rk, bq_rk).count()
                    + ndcg_at_k(fused, bq_rk, k=5).count()
                    + precision_at_k(mrl_rk, bq_rk).count()
                )
                walls.append(round(time.perf_counter() - t0, 3))
            assert n > 0, "fusion gate produced no rows — tiers broken"
            return min(walls)

        fw = {
            "wall_1x": fusion_wall(sf_dir),
            "wall_10x": fusion_wall(out_dir),
        }
        fw["ratio"] = round(fw["wall_10x"] / max(fw["wall_1x"], 1e-9), 2)
        report["serve_fusion"] = fw
        print(f"# serve_fusion: {fw}", file=sys.stderr)
        if fw["ratio"] > SCALE10_FUSION_GATE:
            failures.append(
                f"serve_fusion ratio {fw['ratio']} > {SCALE10_FUSION_GATE}"
                " — fusion wall is tracking corpus size, not "
                "O(queries*k) rankings"
            )

        # incremental-store flatness: stream the 10x corpus through each
        # gated store member as 10 equal batches; per-batch wall must
        # not track index size (the O(batch + index scan + candidates)
        # design claim)
        from crypto_data_pipeline_with_kafka_spark.operators.dedup import (
            incremental_hamming_dedup,
            incremental_winnowing_dedup,
            simhash_bits,
        )

        docs10 = spark.read.parquet(os.path.join(out_dir, "documents.parquet"))
        lo, hi = docs10.agg(F.min("doc_id"), F.max("doc_id")).first()
        span = (hi - lo + 1) // 10

        def store_flatness(name: str, store_subdir: str, ingest) -> None:
            """Time ``ingest(batch_df, store_path, batch_id)`` over 10
            equal corpus slices against an EMPTY store (a reused
            SPARK_GRAFT_SCALE10_DIR would otherwise hand batch 0 a
            pre-populated index, inflating its wall and loosening the
            gate) and gate last/first wall ≤ SCALE10_STORE_GATE."""
            store = os.path.join(out_dir, store_subdir)
            shutil.rmtree(store, ignore_errors=True)
            walls = []
            for b in range(10):
                batch = docs10.filter(
                    (F.col("doc_id") >= lo + b * span)
                    & (
                        F.col("doc_id")
                        < (lo + (b + 1) * span if b < 9 else hi + 1)
                    )
                )
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                ingest(batch, store, b)
                walls.append(round(time.perf_counter() - t0, 3))
            ratio = round(walls[-1] / max(walls[0], 1e-9), 2)
            report[f"{name}_store_batches"] = {
                "walls": walls,
                "last_vs_first": ratio,
            }
            print(
                f"# {name}_store_batches: {walls} last/first {ratio}x",
                file=sys.stderr,
            )
            if ratio > SCALE10_STORE_GATE:
                failures.append(
                    f"{name} store per-batch wall grew {ratio}x from "
                    f"batch 1 to 10 (> {SCALE10_STORE_GATE}) — per-batch "
                    "cost is tracking index size"
                )

        store_flatness(
            "hamming",
            "_ham_store",
            lambda batch, st, b: incremental_hamming_dedup(
                simhash_bits(batch), st, b
            ),
        )
        # winnow member (r8 — it was the ONE incremental store whose
        # O(batch + pruned index) claim had no command-checked number).
        # These tenth-of-10x-corpus batches are RUN-sized, not
        # micro-batch-sized, so the streaming contract's forced batch
        # broadcast is the wrong plan here — broadcast_batch=False
        # (AQE decides), the same reasoning as the curate_corpus call
        # site; the gate then times the plan shape a run-sized caller
        # actually executes.
        store_flatness(
            "winnow",
            "_winnow_store",
            lambda batch, st, b: incremental_winnowing_dedup(
                batch, st, b, broadcast_batch=False
            ),
        )

        # store-retrain linearity: build a PQ-coded incremental IVF
        # store (5 batches) at 1x and 10x, then time the geometry
        # migration (retrain_ivf_store) — one re-assignment pass + the
        # layout exchange, so the 10x/1x retrain-wall ratio must stay
        # under the same linearity gate; this also keeps the
        # codes-carrying retrain path itself under timing
        from crypto_data_pipeline_with_kafka_spark.operators.similarity import (
            _seed_centroids,
            incremental_ivf_update,
            pq_train_residual,
            retrain_ivf_store,
        )

        def retrain_wall(d, tag, residual=False):
            emb = load_emb(d)
            lo_v, hi_v = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
            span_v = (hi_v - lo_v + 1) // 5
            st = os.path.join(out_dir, f"_ivfpq_store_{tag}")
            shutil.rmtree(st, ignore_errors=True)
            base = with_dbl_and_approx_norm(emb)
            cents = _seed_centroids(base, 32, "vec_id").localCheckpoint()
            books = (
                pq_train_residual(
                    emb, cents, num_subvectors=8, codes_per_subvector=16,
                    dim=64,
                )
                if residual
                else pq_train(
                    emb, num_subvectors=8, codes_per_subvector=16, dim=64
                )
            ).localCheckpoint()
            for b in range(5):
                batch = emb.filter(
                    (F.col("vec_id") >= lo_v + b * span_v)
                    & (
                        F.col("vec_id")
                        < (lo_v + (b + 1) * span_v if b < 4 else hi_v + 1)
                    )
                )
                incremental_ivf_update(
                    batch,
                    st,
                    b,
                    centroids=cents if b == 0 else None,
                    pq_codebooks=books if b == 0 else None,
                    min_cosine=0.8,
                )
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            retrain_ivf_store(spark, st, num_centroids="auto")
            return round(time.perf_counter() - t0, 3)

        for key, residual in (
            ("ivf_pq_retrain", False),
            # residual layout (r8): retrain additionally RE-ENCODES
            # every stored row against the new geometry — still inside
            # the one re-assignment pass (in-row math against broadcast
            # books + new centroids), so the same linearity gate holds
            ("ivf_pq_retrain_residual", True),
        ):
            rt = {
                "wall_1x": retrain_wall(sf_dir, f"1x_{key}", residual),
                "wall_10x": retrain_wall(out_dir, f"10x_{key}", residual),
            }
            rt["ratio"] = round(rt["wall_10x"] / max(rt["wall_1x"], 1e-9), 2)
            report[key] = rt
            print(f"# {key}: {rt}", file=sys.stderr)
            if rt["ratio"] > SCALE10_PQ_GATE:
                failures.append(f"{key} ratio {rt['ratio']} > {SCALE10_PQ_GATE}")

        # curate_corpus everything-on wall (r9): the product-level entry
        # point composed — quality + repetition + decontam (the %97 doc
        # slice as the benchmark, scaling with the corpus) + MinHash +
        # winnow STORE + dense-embedding gate + all three modality
        # hamming gates over corpus-scaled synthesized payloads +
        # CDC chunk dedup + splits. One timed pass per scale; the
        # flag-column staging and eager stats aggregation is exactly
        # where an accidental double-execution would hide.
        from crypto_data_pipeline_with_kafka_spark.curation import (
            curate_corpus,
        )

        def curate_wall(d, tag):
            docs_c = spark.read.parquet(
                os.path.join(d, "documents.parquet")
            ).select("doc_id", "text")
            emb_c = spark.read.parquet(
                os.path.join(d, "embeddings.parquet")
            ).withColumnRenamed("vec_id", "doc_id")
            images, audio, video = _synth_multimodal(docs_c)
            store = os.path.join(out_dir, f"_curate_wn_{tag}")
            shutil.rmtree(store, ignore_errors=True)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            curated, stats = curate_corpus(
                spark,
                docs_c,
                benchmark=docs_c.filter(F.col("doc_id") % 97 == 0),
                winnow_store_dir=store,
                winnow_batch_id=0,
                embeddings=emb_c,
                images=images,
                audio=audio,
                video=video,
                video_every_nth=1,
                chunk_dedup=True,
                chunk_boundaries="content",
                exact_substr=True,
                split_weights={"train": 0.9, "val": 0.1},
            )
            n = curated.count()
            wall = round(time.perf_counter() - t0, 3)
            print(
                f"# curate_{tag}: {wall}s ({n} rows, "
                f"{stats['input_rows']} in)",
                file=sys.stderr,
            )
            return wall

        cw = {
            "wall_1x": curate_wall(sf_dir, "1x"),
            "wall_10x": curate_wall(out_dir, "10x"),
        }
        cw["ratio"] = round(cw["wall_10x"] / max(cw["wall_1x"], 1e-9), 2)
        report["curate_corpus"] = cw
        print(f"# curate_corpus: {cw}", file=sys.stderr)
        if cw["ratio"] > SCALE10_CURATE_GATE:
            failures.append(
                f"curate_corpus ratio {cw['ratio']} > {SCALE10_CURATE_GATE}"
            )
        payload = {
            "metric": "scale10_wall_ratios",
            "value": max(
                v["ratio"] for k, v in report.items()
                if k.startswith("dedup_")
            ),
            "unit": "x",
            "ops": report,
            "gate": {
                "dedup_max_ratio": SCALE10_DEDUP_GATE,
                "store_last_vs_first_max": SCALE10_STORE_GATE,
                "pq_max_ratio": SCALE10_PQ_GATE,
                "curate_max_ratio": SCALE10_CURATE_GATE,
                "model_max_ratio": SCALE10_MODEL_GATE,
                "serve_max_ratio": SCALE10_SERVE_GATE,
                "fusion_max_ratio": SCALE10_FUSION_GATE,
                "failures": failures,
            },
            "sf_dir": sf_dir,
        }
        print(json.dumps(payload))
        # persist the gate run as a per-round artifact next to the
        # driver's BENCH_r{N}.json so ratio drift is diffable across
        # rounds (a ratio can move 2× between a quiet smoke and a
        # loaded judge run — worth tracking even under the gate);
        # --no-artifact (verification re-runs) skips the write
        if write_artifact:
            art = os.path.join(
                _repo_dir(), f"SCALE10_r{round_no:02d}.json"
            )
            with open(art, "w") as fh:
                json.dump(payload, fh, indent=1)
            print(f"# wrote {art}", file=sys.stderr)
        else:
            print("# --no-artifact: gate run not persisted", file=sys.stderr)
        return 1 if failures else 0
    finally:
        if ephemeral:
            shutil.rmtree(out_dir, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0
    spark = get_spark(app_name="crypto_data_pipeline_with_kafka_spark-bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up

    qs = queries()
    # sf- and core-count-scoped floor history, loaded ONCE (an sf of
    # -1.0 means the SF dir name was unparseable — the scale is then
    # UNKNOWN, and matching it against other unknown-or-absent sf
    # artifacts would re-admit exactly the cross-sf floor poisoning the
    # scoping prevents, so floors are disabled instead)
    cpus = spark.sparkContext.defaultParallelism
    hist = _bench_history(sf=sf, cpus=cpus) if sf >= 0 else {}
    # JIT warm-up: run every headline query once on the TINY sf0.001
    # fixture so the benched samples measure the plan, not first-call
    # class-loading / whole-stage-codegen compilation (each query's
    # generated code differs, so warming one does not warm the rest —
    # measured: a cold first sample reads 2-4× the warm floor). The
    # warm-up data is 100× smaller than the benched SF dir and every
    # sample still clears the cache, so no benched bytes are
    # pre-materialized. Warm-up failures never fail the bench.
    for name in HEADLINE:
        try:
            qs[name](spark, "/root/testdata/sf0.001").count()
        except Exception as e:  # pragma: no cover - warm-up is best-effort
            print(f"# warm-up {name} failed: {e}", file=sys.stderr)
        spark.catalog.clearCache()
    per_query: dict[str, float] = {}
    per_samples: dict[str, list[float]] = {}
    per_floor: dict[str, float] = {}
    for name in HEADLINE:
        samples: list[float] = []
        rows = 0
        # Load-aware floor (r10): two back-to-back LOADED runs agree
        # with each other, so convergence alone can record a loaded
        # min (r9: ngram 5.32 recorded against a 3.97 s quiet floor).
        # The recent-history min is the quiet-floor estimate; while the
        # current min sits >30% above it, keep re-sampling (raised cap
        # 6) — a load burst decays within a few samples, and if it
        # doesn't, the floor lands in the JSON so the reading is
        # self-explaining.
        floor = _floor_from_history(name, hist)
        loaded = lambda: (  # noqa: E731
            floor is not None and min(samples) > 1.3 * floor
        )
        # adaptive sampling: host-load noise swings queries ±40%, and a
        # flat min-of-2 can catch two bad samples back-to-back. Sample
        # until the two best runs agree within 20% (the reading is then
        # load-free, not a fluke), capped at 4; sub-second queries keep
        # their guaranteed 3rd sample
        while (
            len(samples) < 2
            or (min(samples) < 1.0 and len(samples) < 3)
            or (sorted(samples)[1] / min(samples) > 1.2 and len(samples) < 4)
            or (loaded() and len(samples) < 6)
        ):
            spark.catalog.clearCache()  # isolate queries: no leftover persists
            t0 = time.perf_counter()
            rows = qs[name](spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        per_query[name] = round(min(samples), 3)
        per_samples[name] = [round(s, 3) for s in samples]
        if floor is not None:
            per_floor[name] = round(floor, 3)
        print(
            f"# {name}: {per_query[name]:.3f}s ({rows} rows; "
            f"samples {per_samples[name]}; floor "
            f"{per_floor.get(name, 'n/a')})",
            file=sys.stderr,
        )

    total = round(sum(per_query.values()), 3)
    # "samples" carries the raw convergence telemetry: n per query plus
    # every reading, so a high min is distinguishable from host-load
    # scatter (best two agreeing within 20% = a load-free reading; a
    # wide spread = a noisy window) without re-running the bench.
    # "floors" records each slot's recent-history quiet floor — a min
    # well above its floor after 6 samples means a genuinely loaded
    # window (or a slot that grew legs this round), not a plan change.
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "samples": per_samples,
                "floors": per_floor,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    argv = sys.argv[1:]
    if "--scale10" in argv:
        rnd = None
        if "--round" in argv:
            try:
                rnd = int(argv[argv.index("--round") + 1])
            except (IndexError, ValueError):
                print(
                    "# --round needs an integer argument — inferring",
                    file=sys.stderr,
                )
        raise SystemExit(
            run_scale10(
                round_override=rnd,
                write_artifact="--no-artifact" not in argv,
            )
        )
    main()

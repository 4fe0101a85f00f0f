"""Structured Streaming twins of the reference Beam pipeline
(analysis-dataflow-pipeline/pipeline.py) — SURVEY.md §2 D-block.

Source: JSON tick messages on a file (or rate/socket/Kafka — any
DataStreamReader) stream, the Spark analog of the reference's
Pub/Sub subscription (pipeline.py:77-78). Event-time semantics come
from withWatermark over the message's own timestamp
(≈ pipeline.py:80-81 'Add Timestamps').

Windowed aggregations mirror the batch operators in
operators/windows.py; parity between the two is pytest-enforced
(same input -> same rows). ``system_latency`` — wall-clock
processing delay, pipeline.py:48-52 — lives here (current_timestamp
at format time) because it is inherently nondeterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The reference's published message shape (main.py:162-169).
TICK_SCHEMA = (
    "ticker string, ts timestamp, price double, volume bigint, "
    "ai_sentiment double, ai_summary string"
)


def read_tick_stream(spark: SparkSession, path: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """D1: file-source stream of JSON tick messages (≈ ReadFromPubSub
    + Decode JSON, pipeline.py:77-78)."""
    reader = spark.readStream.schema(TICK_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def _minute_aggs(ticks: DataFrame, watermark: str) -> DataFrame:
    """The watermarked per-(ticker, minute) aggregation shared by D2
    and D4: D2's public aggregates plus the exact per-minute price
    sum and tick count the 5-minute SMA is rebuilt from."""
    return (
        ticks.withWatermark("ts", watermark)
        .groupBy("ticker", F.window("ts", "1 minute").alias("win"))
        .agg(
            F.max_by("price", "ts").alias("latest_price"),
            F.max("price").alias("high_price_1m"),
            F.sum("volume").alias("total_volume_1m"),
            F.sum(F.col("price").cast("decimal(18,4)") * F.col("volume"))
             .cast("double").alias("total_value_1m"),
            F.max_by("ai_sentiment", "ts").alias("ai_sentiment"),
            F.max_by("ai_summary", "ts").alias("ai_summary"),
            F.sum(F.col("price").cast("decimal(18,4)")).alias("price_sum"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


_MINUTE_COLS = ("latest_price", "high_price_1m", "total_volume_1m",
                "total_value_1m", "ai_sentiment", "ai_summary")


def agg_1m_stream(ticks: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """D2: watermarked 1-minute tumbling aggregation
    (≈ FixedWindows(60) + 'Calculate 1-Min Aggs', pipeline.py:86-97).
    Late data beyond the watermark is dropped instead of growing
    state forever — the knob a 100 TB stream needs."""
    return _minute_aggs(ticks, watermark).select(
        "ticker", F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"), *_MINUTE_COLS)


def sma_5m_stream(ticks: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """D3: 5-minute sliding window (1-minute slide) mean price
    (≈ SlidingWindows(300, 60) + Mean.PerKey, pipeline.py:102-107).
    Emitted keyed by the window END minute so it aligns with the
    1-minute windows exactly like the reference's re-window step."""
    t = ticks.withWatermark("ts", watermark)
    return (
        t.groupBy("ticker", F.window("ts", "5 minutes", "1 minute").alias("win"))
        .agg((F.sum(F.col("price").cast("decimal(18,4)")).cast("double")
              / F.count(F.lit(1))).alias("sma_5m"))
        .select("ticker", F.col("win.end").alias("window_end"), "sma_5m")
    )


def format_output(joined: DataFrame) -> DataFrame:
    """≈ FormatOutput (pipeline.py:44-67): BigQuery-shaped projection
    with the wall-clock system_latency metric."""
    return joined.select(
        "ticker",
        F.col("window_end").alias("window_timestamp"),
        "latest_price", "high_price_1m", "total_volume_1m",
        "total_value_1m", "sma_5m",
        F.coalesce("is_volume_spike", F.lit(False)).alias("is_volume_spike"),
        ((F.unix_micros(F.current_timestamp())
          - F.unix_micros(F.col("window_end"))).cast("double") / 1e6)
        .alias("system_latency"),
        "ai_sentiment", "ai_summary",
    )


def dedup_stream(ticks: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """D7: streaming deduplication — drops replayed/duplicate
    messages (same ticker+ts) within the watermark horizon. The
    at-least-once ingestion analog: Pub/Sub redelivery in the
    reference would double-count volume without this. State is
    bounded by the watermark (dropDuplicatesWithinWatermark)."""
    return (ticks.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["ticker", "ts"]))


def joined_metrics_stream(ticks: DataFrame,
                          watermark: str = "10 minutes") -> DataFrame:
    """D4: the 1-minute aggregates joined with the 5-minute SMA on
    (ticker, window_end) — the reference's CoGroupByKey output
    (pipeline.py:110-119) — as ONE chain of two stateful window
    aggregations instead of a stream-stream join.

    The first operator is D2's per-minute aggregation carrying the
    exact price sum and tick count. The second groups those minute
    rows into 5-minute windows sliding by 1 minute (the chained-window
    pattern of D9) and rebuilds the SMA as sum of sums over sum of
    counts, exactly like the batch twin ``with_sma_5m``. It also keeps
    the minute row with the latest end; the window is emitted only
    when that minute ends where the 5-minute window ends, which is
    the inner join's row set. Each tick is aggregated once, with no
    5x sliding-window expansion, and both operators evict their state
    once the watermark passes a window's end.

    Append mode only: a row is emitted once its 5-minute window closes
    past the watermark. A checkpoint written by the earlier
    stream-stream join plan cannot be resumed (its stateful operators
    differ); restart such a query from a fresh checkpoint."""
    minute = _minute_aggs(ticks, watermark)
    last = F.max_by(F.struct("win", *_MINUTE_COLS), F.col("win.end"))
    return (
        minute.groupBy("ticker",
                       F.window("win", "5 minutes", "1 minute").alias("w5"))
        .agg(last.alias("m"),
             (F.sum("price_sum").cast("double") / F.sum("n_ticks"))
             .alias("sma_5m"))
        .where(F.col("m.win.end") == F.col("w5.end"))
        .select("ticker", F.col("w5.end").alias("window_end"),
                F.col("m.win.start").alias("window_start"),
                *[F.col(f"m.{c}").alias(c) for c in _MINUTE_COLS],
                "sma_5m")
    )


def session_window_stream(events: DataFrame,
                          watermark: str = "1 hour") -> DataFrame:
    """D8: streaming session windows — state closes a session once
    the watermark passes its gap-extended end; the streaming twin of
    plans.analytics2.session_window_stats."""
    from pyspark.sql import functions as _F
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", _F.session_window("ts", "30 minutes").alias("sw"))
        .agg(_F.count(_F.lit(1)).alias("n_events"))
        .select("user_id", _F.col("sw.start").alias("session_start"), "n_events")
    )


def hourly_rollup_stream(ticks: DataFrame,
                         watermark: str = "10 minutes") -> DataFrame:
    """D9: chained time-window aggregations in ONE streaming query —
    1-minute windows re-aggregated into hourly rollups (volume and
    minute count). Spark 3.5+ supports stacking stateful window aggs
    as long as the second groups on the first's window column; state
    for both layers is watermark-bounded."""
    from pyspark.sql import functions as _F
    minute = (
        ticks.withWatermark("ts", watermark)
        .groupBy("ticker", _F.window("ts", "1 minute").alias("w1"))
        .agg(_F.sum("volume").alias("vol_1m"))
    )
    return (
        minute
        .groupBy("ticker", _F.window("w1", "1 hour").alias("wh"))
        .agg(_F.sum("vol_1m").alias("vol_1h"),
             _F.count(_F.lit(1)).alias("n_minutes"))
        .select("ticker", _F.col("wh.start").alias("hour_start"),
                "vol_1h", "n_minutes")
    )


def enriched_tick_stream(ticks: DataFrame, dim: DataFrame) -> DataFrame:
    """D10: stream-static dimension join — the streaming fact
    enriched against a batch dimension table. Spark plans the static
    side as a broadcast re-read per micro-batch (no stream state),
    the standard shape for attaching slowly-changing reference data
    to an event stream at any scale."""
    from pyspark.sql import functions as _F
    return (ticks.join(_F.broadcast(dim), "ticker", "left")
            .select("ticker", "ts", "price", "volume",
                    "sector", "listing_venue"))


def cm_sketch_stream(docs: DataFrame) -> DataFrame:
    """D14: count-min sketch as streaming state — the streaming twin
    of plans.textpipeline.heavy_hitters_cms (C31). Token occurrences
    from a document stream accumulate into the d x w = 4096-cell
    grid; in complete output mode the streaming aggregation state IS
    the sketch, and each micro-batch's contribution folds in as the
    cell-wise sum — exactly the ``cm_merge`` mergeable-state law, so
    the final grid is bit-identical to the batch sketch over the
    same corpus (pytest parity in tests/test_streaming.py).

    Why this shape survives a 100 TB stream: the aggregation key
    space is FIXED at 4096 (r, bucket) cells regardless of vocab
    size, so state never grows, no watermark is needed, and map-side
    partial aggregation collapses every micro-batch partition to
    <= 4096 rows before the stateful exchange. An exact streaming
    token count would need unbounded vocab-sized state; the grid
    answers any later frequency point-query with no corpus re-scan."""
    from gcp_data_engineering_workshop_spark.functions import textfns as T
    from gcp_data_engineering_workshop_spark.operators.sketch import cm_build
    toks = docs.select(F.explode(T.words("text")).alias("token"))
    return cm_build(toks, "token")


def purchase_attribution_stream(events: DataFrame,
                                watermark: str = "10 minutes") -> DataFrame:
    """D13: watermarked stream-stream LEFT OUTER interval join —
    purchases attributed to a view by the same user within the
    preceding 10 minutes. The outer side is the part an inner join
    cannot express: a purchase with NO qualifying view still
    emits (null view timestamp) once the watermark passes its join
    horizon, so unattributed conversions are never silently dropped.
    Both sides carry watermarks; the interval condition bounds the
    buffered state to the 10-minute horizon per side."""
    from pyspark.sql import functions as _F
    v = (events.where(_F.col("event_type") == "view")
         .select(_F.col("user_id").alias("v_user"), _F.col("ts").alias("v_ts"))
         .withWatermark("v_ts", watermark))
    p = (events.where(_F.col("event_type") == "purchase")
         .select("event_id", _F.col("user_id").alias("p_user"),
                 _F.col("ts").alias("p_ts"))
         .withWatermark("p_ts", watermark))
    cond = ((_F.col("p_user") == _F.col("v_user"))
            & (_F.col("v_ts") >= _F.col("p_ts") - _F.expr("INTERVAL 10 MINUTES"))
            & (_F.col("v_ts") <= _F.col("p_ts")))
    return (p.join(v, cond, "leftOuter")
            .select("event_id", _F.col("p_user").alias("user_id"),
                    "p_ts", "v_ts"))


def incremental_dedup_stream(doc_stream: DataFrame,
                             corpus: DataFrame) -> DataFrame:
    """D15: streaming twin of the incremental-dedup exact stage
    (C38, operators/dedup.py incremental_dedup): documents streaming
    in are admitted only when their normalized content hash is
    absent from the static reference corpus — a stream-static LEFT
    ANTI join on the hash key.

    The static side reduces to a distinct hash set and broadcasts
    per micro-batch, so the stream side carries NO state at all (no
    watermark, nothing to grow): each arriving doc is one hash + one
    broadcast probe. This is the admission-control front of a
    continuously-ingesting corpus; the (much rarer) near-dup stage
    stays in the batch path where candidate generation belongs."""
    from gcp_data_engineering_workshop_spark.functions.textfns import normalize

    corpus_hashes = corpus.select(
        F.md5(normalize("text")).alias("h")).distinct()
    return (doc_stream.withColumn("h", F.md5(normalize("text")))
            .join(F.broadcast(corpus_hashes), "h", "left_anti")
            .select("doc_id", "lang"))


def ingest_bloom_stream(doc_stream: DataFrame, corpus: DataFrame,
                        m_bits: int = 1 << 18,
                        n_hashes: int = 5) -> DataFrame:
    """D25: streaming twin of C85 (operators/dedup.py
    incremental_dedup_bloom) — ingest admission with BOUNDED
    membership state where D15's plain anti-join broadcasts the
    whole corpus hash set per micro-batch. The corpus hashes fold
    ONCE (plan-build time) into an m-bit bloom bitmap; each
    arriving doc computes its hash + probe positions in pure JVM
    expressions, one vectorized Arrow probe classifies the batch,
    bloom-NEGATIVE docs are admitted join-free, and only the
    positive sliver (true re-ingests + the FP rate) reaches the
    exact confirm anti-join against the corpus hash set. One-sided,
    so admitted == D15's output doc-for-doc (pytest-enforced), but
    the per-batch data movement is the m/8-byte bitmap instead of
    the full hash set — the shape that survives a corpus whose hash
    inventory outgrows a broadcast. Zero streaming state, no
    watermark."""
    from gcp_data_engineering_workshop_spark.functions.textfns import (
        KR_MOD, normalize)
    from gcp_data_engineering_workshop_spark.operators import bloom as BL

    # NULL-hash handling mirrors the batch twin (operators/dedup.py
    # incremental_dedup_bloom): NULL keys never match an anti-join,
    # so NULL-text docs are always admitted, and NULLs stay out of
    # the bloom build / probe integer math.
    corpus_hashes = (corpus.select(
        F.md5(normalize("text")).alias("h"))
        .where(F.col("h").isNotNull()).distinct())
    probe_key = (F.conv(F.substring(F.col("h"), 1, 8), 16, 10)
                 .cast("bigint") % F.lit(KR_MOD))
    bitmap = BL.bloom_build(
        corpus_hashes.select(probe_key.alias("hk")), "hk",
        m_bits=m_bits, n_hashes=n_hashes)
    probe = BL.bloom_might_contain(bitmap, n_hashes)
    b = (doc_stream.withColumn("h", F.md5(normalize("text")))
         .withColumn("_maybe", F.col("h").isNotNull() & probe(
             BL.bloom_positions(F.coalesce(probe_key, F.lit(0)),
                                m_bits, n_hashes))))
    fresh = b.where(~F.col("_maybe")).select("doc_id", "lang")
    confirmed = (b.where(F.col("_maybe"))
                 .join(F.broadcast(corpus_hashes), "h", "left_anti")
                 .select("doc_id", "lang"))
    return fresh.union(confirmed)


def ohlc_stream(ticks: DataFrame, window: str = "1 hour",
                watermark: str = "10 minutes") -> DataFrame:
    """D16: streaming OHLC candles (A14 twin) — per (ticker,
    window) open/high/low/close built as ONE watermarked windowed
    aggregation: open/close are min_by/max_by on (event time, price)
    — the same total tie-break order as the batch rollup — which
    merge correctly across micro-batches (each partial carries its
    arg-extreme, merge keeps the earlier/later one), so the final
    candle is identical to the batch rollup over the same ticks —
    no sort, no per-window state beyond the single running row."""
    tie_key = F.struct("ts", "price")
    return (
        ticks.withWatermark("ts", watermark)
        .groupBy("ticker", F.window("ts", window).alias("w"))
        .agg(F.min_by("price", tie_key).alias("open"),
             F.max("price").alias("high"),
             F.min("price").alias("low"),
             F.max_by("price", tie_key).alias("close"),
             F.sum("volume").alias("w_volume"),
             F.count(F.lit(1)).alias("n_ticks"))
        .select("ticker", F.col("w.start").alias("window_start"),
                "open", "high", "low", "close", "w_volume", "n_ticks")
    )


def enriched_model_stream(ticks: DataFrame, batch_size: int = 64,
                          model_fn=None) -> DataFrame:
    """D17: the reference's model-call enrichment ran INSIDE its
    streaming pipeline (main.py:104-160, invoked per Pub/Sub batch);
    this is that stage on Structured Streaming — the same
    enrich_batched mapInPandas operator applied to the tick stream
    (mapInPandas is streaming-capable: it runs per micro-batch, per
    partition, chunking each Arrow batch to the model batch size).

    Stateless: no watermark, no state store — a failed/garbled chunk
    degrades to neutral defaults inside its own micro-batch and can
    never poison the trigger or grow state. At scale each executor
    calls the endpoint independently for its partitions, so call
    concurrency follows partition count, not a driver-side loop."""
    from gcp_data_engineering_workshop_spark.operators.enrichment import (
        deterministic_tick_model, enrich_batched)

    base = ticks.drop("ai_sentiment", "ai_summary")
    return enrich_batched(
        base, model_fn or deterministic_tick_model, ["volume"],
        "ai_sentiment double, ai_summary string",
        defaults={"ai_sentiment": 0.0, "ai_summary": "neutral"},
        batch_size=batch_size)


def media_decode_stream(media: DataFrame) -> DataFrame:
    """D18: streaming multimodal decode — pHash feature extraction
    (C53) over a STREAM of binary media rows, the live-ingest shape
    of an image pipeline. The batch operator IS the streaming
    operator: the stage is stateless map-only Arrow (no watermark,
    no state store), so ``image_phash``'s mapInArrow applies to a
    streaming DataFrame unchanged and per-micro-batch results are
    identical to the batch run over the same rows."""
    from gcp_data_engineering_workshop_spark.operators.multimodal import (
        image_phash)
    return image_phash(media)


def quality_score_stream(docs: DataFrame, weights) -> DataFrame:
    """D19: train-offline / score-online — the C59 logistic
    classifier applied to a STREAM of documents. The trained weight
    vector is a plain driver-side array compiled into the plan as
    literals (the broadcast-model pattern); scoring is the same pure
    JVM sigmoid expression as the batch path, so it is stateless and
    per-micro-batch results equal the batch scorer row for row.
    ``docs``: streaming (doc_id, text, lang) rows."""
    from pyspark.sql import functions as F

    from gcp_data_engineering_workshop_spark.functions import textfns as T
    from gcp_data_engineering_workshop_spark.operators.classifier import (
        logistic_score)

    w = T.words("text")
    text = F.col("text")
    n_chars = F.length(text)
    pr = F.when(n_chars > 0,
                F.regexp_count(text, F.lit(r"[^\w\s]")).cast("double")
                / n_chars).otherwise(F.lit(0.0))
    dr = F.when(n_chars > 0,
                F.regexp_count(text, F.lit(r"[0-9]")).cast("double")
                / n_chars).otherwise(F.lit(0.0))
    feats = docs.select(
        "doc_id",
        F.array(F.least(F.size(w).cast("double") / 100.0, F.lit(1.0)),
                pr, dr, T.stopword_ratio_of(w, "en")).alias("features"))
    return logistic_score(feats, weights)


def semdedup_incremental_stream(new_embs: DataFrame, corpus: DataFrame,
                                cent, tau: float = 0.4) -> DataFrame:
    """D20: streaming incremental SEMANTIC dedup (C60 twin) — a
    stream of new embedding rows is admitted only if no >= tau
    corpus neighbor exists in its cluster. Stateless end to end:
    the corpus-trained centroid matrix rides the mapInArrow closure
    for the stream-side E-step, the corpus assignment is a static
    frame, and the reject test is one stream-static LEFT ANTI join
    whose extra predicate is the pure-JVM dot fold (no Python in
    the join condition — anti joins cannot post-filter). Per-micro-
    batch results equal the C60 batch survivors row for row."""
    from pyspark.sql import functions as F

    from gcp_data_engineering_workshop_spark.functions.vectorfns import dot
    from gcp_data_engineering_workshop_spark.operators.clustering import (
        kmeans_assign)

    ab = kmeans_assign(new_embs, cent=cent, keep_embedding=True)
    ac = (kmeans_assign(corpus, cent=cent, keep_embedding=True)
          .select(F.col("cluster_id").alias("c_cluster"),
                  F.col("embedding").alias("ec")))
    cond = ((F.col("cluster_id") == F.col("c_cluster"))
            & (F.round(dot(F.col("embedding"), F.col("ec")), 6) >= tau))
    return (ab.join(ac, cond, "left_anti")
            .select("vec_id", "cluster_id"))


def decontaminate_stream(doc_stream: DataFrame, eval_docs: DataFrame,
                         m_bits: int = 1 << 18,
                         n_hashes: int = 5,
                         extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """D21: streaming decontamination admission control (C66 twin) —
    flag each arriving training document that shares any 3-word
    shingle with the held-out eval corpus, STATELESS end to end.

    Build side (static, once per plan): the eval shingle set and its
    bloom bitmap (operators/bloom.py — the bit_or combine is bounded
    by the bitmap, never the eval set).

    Stream side: the shingle array and its KR hashes stay NESTED per
    doc (pure JVM transform), one vectorized Arrow probe masks
    bloom-positive shingles across the whole batch, and docs whose
    candidate array is empty — ~all of them — short-circuit to
    contaminated=false with NO join at all. Only bloom survivors
    reach the exact confirm, a broadcast semi/anti join pair on
    array_contains over the (tiny) candidate arrays. No explode, no
    re-aggregation, no watermark: zero streaming state."""
    from gcp_data_engineering_workshop_spark.functions import textfns as T
    from gcp_data_engineering_workshop_spark.operators import bloom as BL

    ev_words = eval_docs.select(
        "doc_id", T.words("text").alias("w"))
    eval_sh = (ev_words.where(F.size("w") >= 3)
               .select(F.explode(F.array_distinct(
                   T.shingles_of(F.col("w")))).alias("g"))
               .distinct())
    bitmap = BL.bloom_build(
        eval_sh.select(T.kr_hash(F.col("g")).alias("h")), "h",
        m_bits=m_bits, n_hashes=n_hashes)
    mask = BL.bloom_mask(bitmap, m_bits, n_hashes)

    w = T.words("text")
    sh = F.when(F.size(w) >= 3, F.array_distinct(T.shingles_of(w))) \
        .otherwise(F.array().cast("array<string>"))
    hs = F.transform(sh, lambda g: T.kr_hash(g))
    cand = F.filter(
        F.zip_with(sh, mask(hs),
                   lambda g, m: F.when(m, g)),
        lambda x: x.isNotNull())
    ec = list(extra_cols)  # carried through for downstream aggs (D26)
    docs = doc_stream.select("doc_id", *ec, cand.alias("cand"))
    clean = docs.where(F.size("cand") == 0) \
        .select("doc_id", *ec, F.lit(False).alias("contaminated"))
    maybe = docs.where(F.size("cand") > 0)
    on = F.expr("array_contains(cand, g)")
    hit = (maybe.join(F.broadcast(eval_sh), on, "left_semi")
           .select("doc_id", *ec, F.lit(True).alias("contaminated")))
    miss = (maybe.join(F.broadcast(eval_sh), on, "left_anti")
            .select("doc_id", *ec, F.lit(False).alias("contaminated")))
    return clean.union(hit).union(miss)


def lm_score_stream(docs: DataFrame, c_bg: DataFrame, c_ug: DataFrame,
                    vocab_n: int) -> DataFrame:
    """D22: train-offline / score-online bigram-LM scoring (the C44 /
    C71 perplexity filter applied to a STREAM of documents). The LM
    — bigram counts, unigram counts, vocabulary size — is trained on
    the static corpus; arriving docs explode to bigrams, stream-
    static LEFT joins annotate each with its counts (unseen bigrams
    degrade gracefully to the Laplace floor, exactly the smoothed
    model's generalization), and one per-doc aggregation rebuilds
    avg log P. Aggregation over a stream -> run in update/complete
    output mode; per-micro-batch results for corpus docs equal the
    C44 batch scorer row for row.

    ``docs``: streaming (doc_id, text) rows. ``c_bg``: static
    (w1, w2, c12). ``c_ug``: static (w1, c1). ``vocab_n``: the
    trained vocabulary size, compiled as a literal (D19's
    broadcast-model pattern)."""
    from gcp_data_engineering_workshop_spark.functions import textfns as T

    wt = docs.select("doc_id", T.words("text").alias("w"))
    bg = wt.select(
        "doc_id",
        F.explode_outer(F.when(
            F.size("w") >= 2,
            F.expr("transform(sequence(0, size(w) - 2), "
                   "i -> struct(w[i] AS w1, w[i+1] AS w2))"))
            .otherwise(F.array().cast(
                "array<struct<w1:string,w2:string>>"))).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    logp = F.log((F.coalesce(F.col("c12"), F.lit(0)) + 1).cast("double")
                 / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(vocab_n))
                 .cast("double"))
    return (bg.join(c_bg, ["w1", "w2"], "left")
            .join(c_ug, "w1", "left")
            .groupBy("doc_id")
            .agg(F.count("w1").alias("n_bigrams"),
                 F.coalesce(
                     F.round(F.sum(logp) / F.count("w1"), 6),
                     F.lit(0.0)).alias("avg_logp")))


def attributes_stream(docs: DataFrame) -> DataFrame:
    """D23: streaming per-doc attributes (C76 twin) — the single-pass
    quality/attributes stage applied to a STREAM of documents.
    Entirely stateless: every signal (lang ID, quality features +
    composite score, token counts) is a pure JVM projection over the
    arriving row, so there is no watermark, no state store, and
    per-micro-batch results equal the batch bundle row for row.
    ``docs``: streaming (doc_id, text, lang) rows."""
    from gcp_data_engineering_workshop_spark.functions import textfns as T

    wt = docs.select("doc_id", "lang", "text",
                     T.words("text").alias("w"))
    w = F.col("w")
    text = F.col("text")
    n_words = F.size(w)
    n_chars = F.length(text)
    awl = F.when(
        n_words > 0,
        F.aggregate(w, F.lit(0).cast("bigint"),
                    lambda acc, x: acc + F.length(x)).cast("double")
        / n_words).otherwise(F.lit(0.0))
    pr = F.when(n_chars > 0,
                F.regexp_count(text, F.lit(r"[^\w\s]")).cast("double")
                / n_chars).otherwise(F.lit(0.0))
    dr = F.when(n_chars > 0,
                F.regexp_count(text, F.lit(r"[0-9]")).cast("double")
                / n_chars).otherwise(F.lit(0.0))
    sr = T.stopword_ratio_of(w, "en")
    score = F.round(
        0.4 * F.least(n_words.cast("bigint").cast("double") / 100.0,
                      F.lit(1.0))
        + 0.3 * F.least(sr * 5.0, F.lit(1.0))
        + 0.3 * (1.0 - F.least(pr * 10.0 + dr * 5.0, F.lit(1.0))), 6)
    return wt.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        T.lang_id_of(text, w).alias("lang_pred"),
        n_words.cast("bigint").alias("n_words"),
        n_chars.cast("bigint").alias("n_chars"),
        F.round(awl, 6).alias("avg_word_len"),
        F.round(pr, 6).alias("punct_ratio"),
        F.round(sr, 6).alias("stopword_ratio_en"),
        score.alias("quality_score"),
        F.size(w).cast("bigint").alias("ws_tokens"),
        F.regexp_count(F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"))
         .cast("bigint").alias("bpe_tokens"))


def source_card_stream(doc_stream: DataFrame, eval_docs: DataFrame,
                       m_bits: int = 1 << 18,
                       n_hashes: int = 5) -> DataFrame:
    """D26: streaming per-source data card (C86 twin) — the running
    (source, n_docs, n_words_total, contaminated_docs) table a
    continuously-ingesting corpus maintains for mixture decisions,
    in ONE streaming query: per-doc word counts are a stateless JVM
    projection, the contamination flag is D21's stateless
    bloom+confirm classify (extra columns carried through), and the
    only stateful operator is the final tiny-cardinality
    groupBy(source) aggregate (complete mode — state is one row per
    source, bounded by the source vocabulary, not the stream).
    C86's exact-dup-removable metric deliberately stays batch-only:
    a streaming countDistinct over content hashes is unbounded
    state, the one piece of the card that genuinely needs the
    batch pass."""
    from gcp_data_engineering_workshop_spark.functions import (
        textfns as T)

    enriched = doc_stream.select(
        "doc_id", "text", "source",
        F.size(T.words("text")).alias("nw"))
    cls = decontaminate_stream(enriched, eval_docs, m_bits=m_bits,
                               n_hashes=n_hashes,
                               extra_cols=("source", "nw"))
    return (cls.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("nw").cast("bigint").alias("n_words_total"),
                 F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
                 .cast("bigint").alias("contaminated_docs")))

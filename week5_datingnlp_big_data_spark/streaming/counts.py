"""Structured Streaming variants of the engine's count pipelines
(SURVEY.md section 7 M9).

The batch DataFrame code IS the streaming code — the same tokenize /
explode / groupBy expressions run under ``readStream`` with a watermark
bounding state. Three surfaces:

  stream_documents     — file-source stream of documents-shaped parquet
  streaming_word_counts— the EP-1 word count as an incremental query
  streaming_event_window_counts — tumbling/sliding windowed event counts
                         with late-data handling via watermark
  streaming_sessions   — session windows (F.session_window) per user

State sizing at scale: word-count state is |vocab| rows (bounded by Zipf +
the stop-word filter); windowed counts are |window × type| rows and the
watermark lets Spark drop windows older than the allowed lateness —
without it state grows unboundedly on a 100 TB/day stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from week5_datingnlp_big_data_spark.functions.text import (
    has_content, remove_stopwords, tokenize,
)
from week5_datingnlp_big_data_spark.operators.corpus import clean_text
from week5_datingnlp_big_data_spark.sources.schemas import SCHEMAS


def stream_documents(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream: new parquet files appearing in ``input_dir``
    become micro-batches (documents schema). ``maxFilesPerTrigger=1``
    keeps tests deterministic batch-by-batch."""
    return (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def stream_events(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of events-shaped parquet.

    Mirrors ``sources.catalog.load_table``'s timestamp handling: the
    driver has shipped ``ts`` as BOTH parquet timestamp[us] and
    timestamp[ns] across rounds, and Spark's TimestampType (µs) cannot
    read INT64 nanos directly. A footer-only batch probe (no data scan)
    picks the right stream schema; nanos are truncated to µs exactly like
    the batch path so stream and batch agree bit-for-bit. Also pins the
    session to UTC — file streams bypass ``load_table``, which normally
    does this pin for the oracle compare."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    inferred = spark.read.parquet(input_dir).schema["ts"].dataType
    if isinstance(inferred, T.LongType):
        raw = T.StructType(
            [
                T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType, True)
                for f in SCHEMAS["events"].fields
            ]
        )
        stream = (
            spark.readStream.schema(raw)
            .option("maxFilesPerTrigger", 1)
            .parquet(input_dir)
        )
        return stream.select(
            *[
                F.timestamp_micros(F.expr("ts DIV 1000")).alias("ts") if c == "ts" else F.col(c)
                for c in stream.columns
            ]
        )
    return (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def streaming_word_counts(docs_stream: DataFrame) -> DataFrame:
    """Incremental word count: identical expression chain to the batch
    flagship query (clean → tokenize → de-stopword → explode → count).
    Complete-mode aggregation; state = one row per distinct word."""
    toks = remove_stopwords(tokenize(clean_text("text")))
    # explode_outer + null filter: same single-evaluation rationale as the
    # batch side (operators.corpus.explode_tokens) — a plain explode makes
    # Catalyst re-run the tokenize chain inside its implicit size() filter.
    return (
        docs_stream.select(F.explode_outer(toks).alias("word"))
        .filter(F.col("word").isNotNull())
        .groupBy("word")
        .count()
        .withColumnRenamed("count", "cnt")
    )


def streaming_event_window_counts(
    events_stream: DataFrame,
    window_duration: str = "1 hour",
    slide_duration: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or sliding) windowed counts per event_type with a
    watermark: rows later than ``watermark`` behind the max seen event
    time are dropped, bounding state. Append-mode capable: a window only
    emits once the watermark passes its end."""
    win = (
        F.window("ts", window_duration, slide_duration)
        if slide_duration
        else F.window("ts", window_duration)
    )
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_sessions(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows: native ``F.session_window`` (gap-based, merges as
    events arrive) — the streaming twin of relational.sessionize."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def streaming_exact_dedup(
    docs_stream: DataFrame,
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on content hash. With an event-time column,
    ``dropDuplicatesWithinWatermark`` bounds the dedup state to the
    watermark horizon (the only way exact dedup state stays finite on an
    unbounded stream); without one, state grows with distinct hashes —
    fine for bounded backfills, documented as such."""
    hashed = docs_stream.withColumn("content_hash", F.sha2(F.col("text"), 256))
    if ts_col:
        return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["content_hash"]
        )
    return hashed.dropDuplicates(["content_hash"])


def streaming_click_to_purchase(
    events_stream: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream self join: attribute each purchase to the same user's
    clicks within the preceding ``attribution_window``. Both sides carry a
    watermark and the join condition bounds event-time distance, so state
    for unjoined rows is dropped once the watermark passes — the canonical
    bounded-state stream-stream join shape."""
    clicks = (
        events_stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events_stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution_window}")),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"), "purchase_id", "purchase_ts", "click_id", "click_ts"
    )


def streaming_running_user_counts(events_stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a running
    per-user event count + running value sum that persists across
    micro-batches (the arbitrary-state surface — for logic windowed aggs
    can't express, e.g. decayed counters or per-key ML state).

    State: one (count, total) pair per user — O(|users|), no watermark
    needed for this accumulate-forever shape (add state TTL via
    GroupStateTimeout for bounded retention)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ])

    def update(key, pdfs, state: "GroupState"):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return (
        events_stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def streaming_funnel_progress(
    events_stream: DataFrame,
    steps: tuple[str, ...] = ("signup", "view", "purchase"),
) -> DataFrame:
    """Incremental ordered-funnel state machine via
    ``applyInPandasWithState``: per user, the committed timestamp of each
    completed funnel step persists across micro-batches, and each batch
    advances the machine greedily — a step-i event STRICTLY LATER than
    the committed step-(i-1) timestamp commits step i (the same strict
    ordering as operators/relational.funnel_conversion).

    Emits ``(user_id, steps_done, last_step_ts)`` per updated user per
    batch (update mode: latest row per user is the current state).

    Correctness contract: exactly equals the batch funnel when each
    user's events arrive in timestamp order ACROSS batches (in-order
    partitions, e.g. a per-user-keyed log). Under cross-batch disorder a
    commit is not revisited — matching batch semantics then requires
    watermark-buffered reprocessing, which is the standard
    replay-from-checkpoint answer, not more state here. Within a batch,
    events are sorted before the walk, so intra-batch disorder is fine.

    State: len(steps) epoch-micros slots per user — O(|users|), same
    footprint class as streaming_running_user_counts."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n_steps = len(steps)
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("steps_done", T.IntegerType()),
        T.StructField("last_step_ts", T.TimestampType()),
    ])
    state_schema = T.StructType([
        T.StructField(f"t{i}", T.LongType()) for i in range(n_steps)
    ])

    def update(key, pdfs, state: "GroupState"):
        committed = list(state.get) if state.exists else [None] * n_steps
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.dropna(subset=["ts"]).sort_values(["ts", "event_id"])
        for et, ts in zip(rows["event_type"], rows["ts"]):
            done = sum(1 for t in committed if t is not None)
            if done >= n_steps:
                break
            if et == steps[done]:
                t_us = int(ts.value // 1000)  # pandas ns → µs
                if done == 0 or t_us > committed[done - 1]:
                    committed[done] = t_us
        state.update(tuple(committed))
        done = sum(1 for t in committed if t is not None)
        last = committed[done - 1] if done else None
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "steps_done": [done],
                "last_step_ts": [
                    pd.Timestamp(last, unit="us") if last is not None else pd.NaT
                ],
            }
        )

    return (
        events_stream.select("user_id", "event_id", "ts", "event_type")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def run_stream_to_parquet(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    query_name: str = "to_parquet",
):
    """Production-shaped sink: ``foreachBatch`` writes each micro-batch as
    parquet (append). foreachBatch gets the batch as a BATCH DataFrame, so
    any batch-only operator (complex joins, MERGE-style upserts, the
    engine's own dedup ops) can run inside — the standard escape hatch for
    sinks Structured Streaming lacks natively."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .outputMode("append")
        .start()
    )


def run_stream_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> "object":
    """Test/debug sink: run the streaming query into an in-memory table
    (query results under ``spark.table(query_name)``). Caller stops it."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .start()
    )


def streaming_bloom_dedup(
    docs_stream: DataFrame,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_words: int = 4096,
    num_hashes: int = 7,
):
    """Incremental-crawl ingestion: probe each micro-batch of documents
    against the Bloom filter accumulated over ALL previous batches, append
    the probed rows (with ``maybe_seen``) to ``out_dir``, then OR-merge the
    batch's own filter into the state. The filter state is itself a tiny
    parquet table of packed bit words (operators/dedup.py:bloom_filter_build)
    — versioned one subdirectory per batch, so the sink is restart-safe:
    if a batch is replayed after a crash, re-merging it is idempotent
    (bit-OR) and its state version is simply overwritten.

    This is the streaming face of the batch Bloom operator: "have we seen
    this content in the last N days of a 100 TB/day crawl" becomes a
    broadcast-join against a few MB of state instead of a stream-batch
    join against the crawl itself, and the same state files are readable
    by batch jobs (sketch-as-data, engine-agnostic)."""
    from pathlib import Path

    from week5_datingnlp_big_data_spark.operators import dedup

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            root = Path(state_dir)
            versions = sorted(
                (d for d in root.glob("v*") if d.is_dir()),
                key=lambda d: int(d.name[1:]),
            )
            # replay safety: ignore state at or beyond this batch's id
            live = [d for d in versions if int(d.name[1:]) < batch_id]
            if live:
                bloom = spark.read.parquet(str(live[-1]))
            else:
                bloom = spark.createDataFrame([], "word_idx long, bits long")
            probed = dedup.bloom_maybe_seen(
                batch_df, bloom, text_col, id_col, num_words, num_hashes
            )
            (
                batch_df.join(probed, id_col, "left")
                .withColumn("maybe_seen", F.coalesce("maybe_seen", F.lit(False)))
                .withColumn("_batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(out_dir)
            )
            merged = dedup.bloom_filter_merge(
                bloom,
                dedup.bloom_filter_build(
                    batch_df, text_col, id_col, num_words, num_hashes
                ),
            )
            merged.write.mode("overwrite").parquet(str(root / f"v{batch_id}"))
        finally:
            batch_df.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("bloom_dedup")
        .outputMode("append")
        .start()
    )


def streaming_minhash_near_dups(
    docs_stream: DataFrame,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 12,
    num_bands: int = 4,
    shingle_n: int = 3,
):
    """Incremental MinHash near-dup detection: each micro-batch emits
    (a) its within-batch near-dup pairs and (b) its pairs against ALL
    previously ingested documents, then appends its own LSH band table
    and shingle sets to the accumulated state. The union of emitted pairs
    over any batch sequence equals the one-shot batch
    ``jaccard_near_dups`` over the concatenated corpus (pinned by
    ``test_streaming_minhash_matches_batch``) — the crawl-shaped property:
    dedup state is append-only and never re-derived from the corpus.

    State shape: ``bands/`` is narrow (id, band_idx, band_key) keyed
    exactly like the batch self-join, so new-vs-history candidate
    generation is the same bucket join with history on the build side;
    ``shingles/`` holds per-doc shingle arrays — corpus-sized, but it IS
    the dedup index a production pipeline materializes (CCNet/Dolma
    style), partition-pruned to candidate ids by the verify semi-join.
    Replayed batches re-emit their pairs and re-append identical state
    rows; downstream consumers dedupe on (id_a, id_b) — same at-least-once
    contract as every foreachBatch sink."""
    from pathlib import Path

    from week5_datingnlp_big_data_spark.operators import dedup

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.persist()
        # every batch-scoped persist is released in the finally below:
        # a long-running stream otherwise leaks five cache entries per
        # micro-batch — unbounded executor-storage growth (found in the
        # r8 optimization audit; the batch operators' persists are
        # per-action and do not have this lifetime problem)
        scoped = []
        try:
            sigs = dedup.minhash_signatures(
                batch, text_col, id_col, num_hashes, shingle_n
            ).persist()
            scoped.append(sigs)
            bands_new = dedup.band_table(sigs, id_col, num_hashes, num_bands).persist()
            scoped.append(bands_new)
            sh_new = (
                batch.filter(has_content(text_col))
                .select(
                    F.col(id_col),
                    dedup.word_shingles(text_col, shingle_n).alias("shingles"),
                )
                .persist()
            )
            scoped.append(sh_new)

            root = Path(state_dir)
            have_state = (root / "bands").exists()
            if have_state:
                bands_old = spark.read.parquet(str(root / "bands"))
                sh_old = spark.read.parquet(str(root / "shingles"))
            else:
                bands_old = spark.createDataFrame(
                    [], f"{id_col} long, band_idx int, band_key string"
                )
                sh_old = spark.createDataFrame(
                    [], f"{id_col} long, shingles array<string>"
                )

            within = dedup.lsh_candidate_pairs(sigs, id_col, num_hashes, num_bands)
            cross = (
                bands_new.alias("n")
                .join(
                    bands_old.alias("o"),
                    (F.col("n.band_idx") == F.col("o.band_idx"))
                    & (F.col("n.band_key") == F.col("o.band_key")),
                )
                # normalize to id_a < id_b so pair identity matches batch mode
                .select(
                    F.least(F.col(f"n.{id_col}"), F.col(f"o.{id_col}")).alias("id_a"),
                    F.greatest(F.col(f"n.{id_col}"), F.col(f"o.{id_col}")).alias("id_b"),
                )
                .distinct()
            )
            cands = within.unionByName(cross).distinct().persist()
            scoped.append(cands)
            sh_all = sh_new.unionByName(sh_old)
            cand_ids = (
                cands.select(F.col("id_a").alias(id_col))
                .union(cands.select(F.col("id_b").alias(id_col)))
                .distinct()
            )
            sh = sh_all.join(cand_ids, id_col, "left_semi").persist()
            scoped.append(sh)
            pairs = dedup.jaccard_verified(cands, sh, sh, threshold).withColumn(
                "_batch_id", F.lit(batch_id)
            )
            pairs.write.mode("append").parquet(out_dir)
            bands_new.write.mode("append").parquet(str(root / "bands"))
            sh_new.write.mode("append").parquet(str(root / "shingles"))
        finally:
            for df in scoped:
                df.unpersist()
            batch.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("minhash_near_dups")
        .outputMode("append")
        .start()
    )


def streaming_snapshot_diff(
    docs_stream: DataFrame,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """CDC-style incremental corpus maintenance — the streaming face of
    ``corpus.snapshot_diff``: each micro-batch carries re-crawled
    (id, text) rows; classify every row against the (id, content_hash)
    state accumulated over ALL previous batches (``added`` — id never
    seen; ``changed`` — hash differs; ``unchanged``), append the
    classified rows to ``out_dir``, then upsert the batch's hashes into
    the state. An incremental pipeline reprocesses only added+changed —
    removals are unobservable in an append-only stream; reconcile them
    with the batch snapshot_diff over full snapshots.

    The state is one (id, hash) row per document ever seen — the honest
    CDC state, versioned one subdirectory per batch like the Bloom and
    MinHash sinks, so crash-replaying a batch overwrites its own version
    and re-deriving the upsert is idempotent. At scale, write the state
    bucketed by id (sources/sinks.write_bucketed) and the probe join is
    exchange-free on the state side."""
    from pathlib import Path

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        content = F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256)
        batch_h = batch_df.select(
            F.col(id_col), content.alias("new_hash")
        ).dropDuplicates([id_col]).persist()
        try:
            root = Path(state_dir)
            versions = sorted(
                (d for d in root.glob("v*") if d.is_dir()),
                key=lambda d: int(d.name[1:]),
            )
            live = [d for d in versions if int(d.name[1:]) < batch_id]
            if live:
                state = spark.read.parquet(str(live[-1]))
            else:
                state = spark.createDataFrame([], f"{id_col} long, content_hash string")
            status = (
                F.when(F.col("content_hash").isNull(), F.lit("added"))
                .when(F.col("content_hash") != F.col("new_hash"), F.lit("changed"))
                .otherwise(F.lit("unchanged"))
            )
            (
                batch_h.join(state, id_col, "left")
                .select(
                    id_col,
                    status.alias("status"),
                    F.lit(batch_id).alias("_batch_id"),
                )
                .write.mode("append")
                .parquet(out_dir)
            )
            # Upsert: batch rows win over state rows for the same id.
            merged = state.join(batch_h, id_col, "left_anti").unionByName(
                batch_h.select(id_col, F.col("new_hash").alias("content_hash"))
            )
            merged.write.mode("overwrite").parquet(str(root / f"v{batch_id}"))
        finally:
            batch_h.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("snapshot_diff")
        .outputMode("append")
        .start()
    )


def streaming_shard_manifest(
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Incrementally-maintained delivery manifest: each micro-batch's
    per-shard manifest (operators/shards.py:shard_manifest) is merged —
    counts sum, id ranges min/max, content checksums XOR — into the
    manifest accumulated over all previous batches. Every field is
    mergeable, so the state is one tiny n_shards-row parquet table and no
    batch ever rescans earlier data; the final state equals the batch
    manifest of the full corpus (unit-pinned), so a consumer can verify a
    streaming export exactly as it would a batch one.

    Versioned one subdirectory per batch id with replay protection
    (state at or beyond a replayed batch's id is ignored before
    re-merging), the same restart-safety contract as
    streaming_bloom_dedup."""
    from pathlib import Path

    from week5_datingnlp_big_data_spark.operators import shards

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        root = Path(state_dir)
        versions = sorted(
            (d for d in root.glob("v*") if d.is_dir()),
            key=lambda d: int(d.name[1:]),
        )
        live = [d for d in versions if int(d.name[1:]) < batch_id]
        batch_manifest = shards.shard_manifest(
            batch_df, n_shards, id_col=id_col, text_col=text_col
        )
        if live:
            prev = spark.read.parquet(str(live[-1]))
            merged = shards.shard_manifest_merge(prev, batch_manifest)
        else:
            merged = batch_manifest
        merged.write.mode("overwrite").parquet(str(root / f"v{batch_id}"))

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_source_drift(
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
):
    """Incrementally-maintained PSI drift state: each micro-batch's
    per-(source, quality-decile) histogram (datapipe.quality_bin_counts)
    is SUMMED into the histogram accumulated over all previous batches —
    counts are the canonical mergeable sketch, so the state is a tiny
    sources x 10 parquet table and no batch ever rescans earlier data.
    Reading the final state through datapipe.drift_cells_from_counts
    yields EXACTLY the batch source_quality_drift of the full corpus
    (unit-pinned), so a monitoring job gets fresh drift cells after
    every ingest batch at per-batch cost.

    Versioned one subdirectory per batch id with replay protection
    (state at or beyond a replayed batch's id is ignored before
    re-merging) — the same restart-safety contract as
    streaming_bloom_dedup / streaming_shard_manifest."""
    from pathlib import Path

    from week5_datingnlp_big_data_spark.plans import datapipe

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        root = Path(state_dir)
        versions = sorted(
            (d for d in root.glob("v*") if d.is_dir()),
            key=lambda d: int(d.name[1:]),
        )
        live = [d for d in versions if int(d.name[1:]) < batch_id]
        batch_counts = datapipe.quality_bin_counts(batch_df, text_col)
        if live:
            prev = spark.read.parquet(str(live[-1]))
            merged = (
                prev.unionByName(batch_counts)
                .groupBy("source", "bin")
                .agg(F.sum("n_sb").cast("bigint").alias("n_sb"))
            )
        else:
            merged = batch_counts
        merged.write.mode("overwrite").parquet(str(root / f"v{batch_id}"))

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_daily_volume(events_stream: DataFrame) -> DataFrame:
    """Per-day ingest volume as an incremental streaming aggregation —
    the streaming half of the pipeline-health anomaly monitor: the same
    ``groupBy(to_date(ts)).count()`` the batch operator runs, kept as
    live state across micro-batches (complete/update-mode capable; state
    is one long per calendar day). The drained counts feed the batch
    scoring stage (operators/relational.score_daily_counts — weekday-
    cohort median/MAD modified z), which hash-matches the batch oracle
    because a per-day count is a pure function of the day's row set,
    order/batching invariant."""
    return (
        events_stream.filter(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def streaming_daily_kmv(events_stream: DataFrame, k: int = 64) -> DataFrame:
    """Per-day KMV sketch partials as ARBITRARY STREAMING STATE
    (``applyInPandasWithState``): each day's state is its ≤ k smallest
    distinct md5-derived user hashes, updated per micro-batch and
    emitted as ``(day, upd, hs)`` — ``upd`` counts state updates so a
    consumer of an update-mode sink can keep the latest row per day.

    This is the streaming half of the lambda-free cardinality pipeline:
    the batch path (operators/sketches.kmv_running_distinct) builds the
    SAME per-day partials with a rank window; the shared merge step
    (sketches.running_estimate_from_daily) turns either side's partials
    into running distinct estimates — bit-identical because the hash is
    seedless md5 and a KMV sketch is a pure function of the day's key
    SET (order/batching invariant). State is O(k) longs per day; the
    watermark-free accumulate-forever shape matches a calendar-keyed
    dimension (add state TTL for unbounded key spaces)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from week5_datingnlp_big_data_spark.operators.sketches import (
        daily_key_hashes,
    )

    hashed = daily_key_hashes(events_stream, distinct=False)

    out_schema = T.StructType([
        T.StructField("day", T.DateType()),
        T.StructField("upd", T.LongType()),
        T.StructField("hs", T.ArrayType(T.LongType())),
    ])
    state_schema = T.StructType([
        T.StructField("hs", T.ArrayType(T.LongType())),
        T.StructField("upd", T.LongType()),
    ])

    def update(key, pdfs, state: "GroupState"):
        if state.exists:
            hs, upd = state.get
            seen = set(hs)
        else:
            seen, upd = set(), 0
        for pdf in pdfs:
            seen.update(int(x) for x in pdf["h"])
        merged = sorted(seen)[:k]
        upd += 1
        state.update((merged, upd))
        yield pd.DataFrame({"day": [key[0]], "upd": [upd], "hs": [merged]})

    return hashed.groupBy("day").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_latest_user_state(events_stream: DataFrame) -> DataFrame:
    """Per-user LATEST-EVENT state as arbitrary streaming state — the
    streaming half of the CDC merge (operators/relational.apply_changelog):
    each user's state is the argmax event under (ts, event_id), updated
    per micro-batch, emitted as
    ``(user_id, upd, ts_us, event_id, event_type, value)`` with ``upd``
    counting state updates so an update-mode sink consumer keeps the
    latest row per user.

    Latest-state is a pure function of the row SET (a total-order argmax),
    so batching/arrival order cannot change the drained result — the
    registry parity query pins it against the SAME DuckDB oracle as the
    batch user_state_cdc_merge. State is O(1) per user (4 scalars); for
    unbounded key spaces add a TTL, for a user dimension it is the
    streaming-materialized-view shape."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    rows = events_stream.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        "value",
    )

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("upd", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("ts_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("upd", T.LongType()),
    ])

    def update(key, pdfs, state: "GroupState"):
        if state.exists:
            ts_us, eid, etype, val, upd = state.get
            best = (ts_us, eid, etype, float(val))
        else:
            best, upd = None, 0
        for pdf in pdfs:
            for t, e, ty, v in zip(
                pdf["ts_us"], pdf["event_id"], pdf["event_type"], pdf["value"]
            ):
                cand = (int(t), int(e), str(ty), float(v))
                if best is None or cand[:2] > best[:2]:
                    best = cand
        upd += 1
        state.update((best[0], best[1], best[2], best[3], upd))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "upd": [upd],
                "ts_us": [best[0]],
                "event_id": [best[1]],
                "event_type": [best[2]],
                "value": [best[3]],
            }
        )

    return rows.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_url_keep_first(
    docs_stream: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming exact-URL dedup keep-first — the stream half of
    operators/web.py:url_dedup_keep_first, with the canonicalizer
    running IN-STREAM (pure Catalyst string algebra, so the same
    expression tree plans on an unbounded source). Per canonical URL,
    arbitrary state holds the minimum id seen; each micro-batch emits
    ``(canonical_url, keep_id, upd)`` so an update-mode sink's latest
    row per URL is the keep-first election. min() is a pure function of
    the row SET, so batching/arrival order cannot change the drained
    result — the 9th stream-batch parity gate pins it against the batch
    operator. State is O(1) per distinct canonical URL (one id); bound
    it with a watermark-keyed variant when the crawl horizon rotates.

    NULL urls canonicalize to NULL and are NOT elections: the batch
    operator passes them through as keepers (never deduped against each
    other), so the stream must not fold them into one NULL-keyed state
    group — they are filtered out of the stateful path entirely."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from week5_datingnlp_big_data_spark.operators import web

    rows = docs_stream.select(
        web.canonical_url(url_col).alias("canonical_url"),
        F.col(id_col).alias("_id"),
    ).filter(F.col("canonical_url").isNotNull())

    out_schema = T.StructType([
        T.StructField("canonical_url", T.StringType()),
        T.StructField("keep_id", T.LongType()),
        T.StructField("upd", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("keep_id", T.LongType()),
        T.StructField("upd", T.LongType()),
    ])

    def update(key, pdfs, state: "GroupState"):
        if state.exists:
            keep, upd = state.get
        else:
            keep, upd = None, 0
        for pdf in pdfs:
            for i in pdf["_id"]:
                i = int(i)
                if keep is None or i < keep:
                    keep = i
        upd += 1
        state.update((keep, upd))
        yield pd.DataFrame(
            {"canonical_url": [key[0]], "keep_id": [keep], "upd": [upd]}
        )

    return rows.groupBy("canonical_url").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_boilerplate_stats(
    lines_stream: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming jusText-style boilerplate classification — the stream
    half of operators/filters.py:boilerplate_line_stats and the 10th
    stream-batch parity gate. Input is PRE-EXPLODED lines ``(doc_id,
    line_idx, _line)`` that may arrive split across micro-batches in any
    order.

    The stateless per-line features and class come from the IDENTICAL
    Catalyst expressions the batch operator compiles
    (filters.classify_lines runs IN-STREAM), so the numerics cannot
    drift; only the jusText CONTEXT rule — a ``near`` line adjacent (in
    line_idx sort order) to a ``good`` line is kept — needs cross-line
    state: per-doc arbitrary state accumulates every classified line and
    re-evaluates the keep flags as neighbors arrive (a batch-2 line can
    rescue, or separate, a batch-1 neighbor — verdicts are genuinely
    revised across batches, which is what the gate witnesses). Each
    update emits the doc's full current verdict set; an update-mode
    sink's latest row per (doc, line) is the batch answer.

    State is O(lines-of-one-doc) — the same bound the batch window's
    per-doc partition carries."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from week5_datingnlp_big_data_spark.operators import filters

    scored = filters.classify_lines(lines_stream, id_col=id_col)

    out_schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("line_idx", T.IntegerType()),
        T.StructField("n_words", T.IntegerType()),
        T.StructField("link_density", T.DoubleType()),
        T.StructField("stopword_ratio", T.DoubleType()),
        T.StructField("klass", T.StringType()),
        T.StructField("keep", T.BooleanType()),
        T.StructField("upd", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("idxs", T.ArrayType(T.IntegerType())),
        T.StructField("nws", T.ArrayType(T.IntegerType())),
        T.StructField("lds", T.ArrayType(T.DoubleType())),
        T.StructField("srs", T.ArrayType(T.DoubleType())),
        T.StructField("kls", T.ArrayType(T.StringType())),
        T.StructField("upd", T.LongType()),
    ])

    def update(key, pdfs, state: "GroupState"):
        if state.exists:
            idxs, nws, lds, srs, kls, upd = state.get
            store = {
                int(i): (int(nw), float(ld), float(sr), str(kl))
                for i, nw, ld, sr, kl in zip(idxs, nws, lds, srs, kls)
            }
        else:
            store, upd = {}, 0
        for pdf in pdfs:
            for i, nw, ld, sr, kl in zip(
                pdf["line_idx"], pdf["n_words"], pdf["link_density"],
                pdf["stopword_ratio"], pdf["klass"],
            ):
                # a line is immutable once seen (keep-first like the
                # batch explode, which yields each line exactly once)
                store.setdefault(
                    int(i), (int(nw), float(ld), float(sr), str(kl))
                )
        upd += 1
        items = sorted(store.items())
        ks = [v[3] for _, v in items]
        keep = [
            k == "good"
            or (
                k == "near"
                and (
                    (j > 0 and ks[j - 1] == "good")
                    or (j + 1 < len(ks) and ks[j + 1] == "good")
                )
            )
            for j, k in enumerate(ks)
        ]
        state.update((
            [i for i, _ in items],
            [v[0] for _, v in items],
            [v[1] for _, v in items],
            [v[2] for _, v in items],
            ks,
            upd,
        ))
        yield pd.DataFrame({
            id_col: [key[0]] * len(items),
            "line_idx": [i for i, _ in items],
            "n_words": [v[0] for _, v in items],
            "link_density": [v[1] for _, v in items],
            "stopword_ratio": [v[2] for _, v in items],
            "klass": ks,
            "keep": keep,
            "upd": [upd] * len(items),
        })

    return scored.groupBy(id_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_host_cap(
    docs_stream: DataFrame,
    host_col: str = "host",
    score_col: str = "score",
    id_col: str = "doc_id",
    cap: int = 3,
) -> DataFrame:
    """Streaming per-host document cap — the stream half of
    operators/web.py:host_cap_sample (Gopher/RefinedWeb domain caps):
    per host, arbitrary state holds the current top-``cap`` docs under
    the total order (score desc, id asc); each micro-batch merges
    arrivals, re-elects, and emits the WHOLE kept set as
    ``(host, doc_id, score, host_rank, upd)`` — so an update-mode
    consumer keeping each host's latest emission sees exactly the batch
    operator's verdicts, including REVISED ones: a doc kept by an early
    batch is evicted the moment a better-scoring doc arrives (the 11th
    gate's witness). Top-k under a total order is a pure function of
    the row SET, so batching/arrival order cannot change the drained
    result. State is O(cap) per host."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    rows = docs_stream.select(
        F.col(host_col).alias("host"),
        F.col(id_col).cast("long").alias("_id"),
        F.col(score_col).cast("double").alias("_score"),
    )

    out_schema = T.StructType([
        T.StructField("host", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("host_rank", T.IntegerType()),
        T.StructField("upd", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("scores", T.ArrayType(T.DoubleType())),
        T.StructField("upd", T.LongType()),
    ])

    def update(key, pdfs, state: "GroupState"):
        if state.exists:
            ids, scores, upd = state.get
            cur = [(float(s), int(i)) for s, i in zip(scores, ids)]
        else:
            cur, upd = [], 0
        for pdf in pdfs:
            for s, i in zip(pdf["_score"], pdf["_id"]):
                cur.append((float(s), int(i)))
        cur.sort(key=lambda t: (-t[0], t[1]))
        kept = cur[:cap]
        upd += 1
        state.update((
            [i for _, i in kept], [s for s, _ in kept], upd,
        ))
        yield pd.DataFrame({
            "host": [key[0]] * len(kept),
            "doc_id": [i for _, i in kept],
            "score": [s for s, _ in kept],
            "host_rank": list(range(1, len(kept) + 1)),
            "upd": [upd] * len(kept),
        })

    return rows.groupBy("host").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_recrawl_counts(
    visits_stream: DataFrame,
    url_col: str = "url",
    changed_col: str = "changed",
) -> DataFrame:
    """Streaming visit-log accumulation for recrawl scheduling — the
    stream half of operators/web.py:recrawl_change_rates. Per URL,
    arbitrary state holds the two MERGEABLE counts the λ estimator
    needs: visits seen and changes observed. Each micro-batch emits
    ``(url, n_visits, n_changes, upd)``; an update-mode sink's latest
    row per URL carries the running counts, and λ̂ is a STATELESS
    projection over them (web.recrawl_lambda_col — the same JVM
    expression the batch aggregate uses, so quantization cannot drift
    between engines). Counts are order-insensitive sums, so batching
    and arrival order cannot change the drained result — the 12th
    stream-batch parity gate pins it against the batch operator.

    State is O(1) per URL (two int64s); NULL urls carry no observation
    identity and are filtered out of the stateful path."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    rows = visits_stream.select(
        F.col(url_col).alias("url"),
        # NULL verdict counts as unchanged — same coalesce as the batch
        # aggregate (a NaN would silently vanish from the pandas sum)
        F.coalesce(F.col(changed_col), F.lit(False))
        .cast("long")
        .alias("_chg"),
    ).filter(F.col("url").isNotNull())

    out_schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("n_visits", T.LongType()),
        T.StructField("n_changes", T.LongType()),
        T.StructField("upd", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("n_visits", T.LongType()),
        T.StructField("n_changes", T.LongType()),
        T.StructField("upd", T.LongType()),
    ])

    def update(key, pdfs, state: "GroupState"):
        if state.exists:
            n, x, upd = state.get
        else:
            n, x, upd = 0, 0, 0
        for pdf in pdfs:
            n += len(pdf)
            x += int(pdf["_chg"].sum())
        upd += 1
        state.update((n, x, upd))
        yield pd.DataFrame(
            {"url": [key[0]], "n_visits": [n], "n_changes": [x],
             "upd": [upd]}
        )

    return rows.groupBy("url").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_cell_counts(
    vec_stream: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    group_a: int = 0,
    group_b: int = 1,
    num_planes: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Streaming hyperplane-LSH cell histograms — the stream half of
    operators/similarity.py:group_divergence. The signature is pure
    Catalyst HOF algebra (inlined ±1 weight literals), so it runs
    IN-STREAM; per cell, arbitrary state holds the two MERGEABLE
    population counts. Each micro-batch emits ``(cell, n_a, n_b,
    upd)``; an update-mode sink's latest row per cell is the running
    histogram, and the TV-distance scalar is a STATELESS exact-integer
    projection over the drained rows (|n_a·N_b − n_b·N_a| summed, one
    division) — identical arithmetic to the batch operator, so the 13th
    stream-batch parity gate pins histogram AND scalar. State is O(1)
    per cell (two int64s over a 2^num_planes axis)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from week5_datingnlp_big_data_spark.operators import similarity

    rows = vec_stream.select(
        F.col(group_col).alias("_g"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).filter(F.col("_g").isin(group_a, group_b)).select(
        similarity.hyperplane_signature(
            F.col("_v"), num_planes, dim
        ).alias("cell"),
        (F.col("_g") == group_a).cast("long").alias("_is_a"),
    )

    out_schema = T.StructType([
        T.StructField("cell", T.StringType()),
        T.StructField("n_a", T.LongType()),
        T.StructField("n_b", T.LongType()),
        T.StructField("upd", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("n_a", T.LongType()),
        T.StructField("n_b", T.LongType()),
        T.StructField("upd", T.LongType()),
    ])

    def update(key, pdfs, state: "GroupState"):
        if state.exists:
            na, nb, upd = state.get
        else:
            na, nb, upd = 0, 0, 0
        for pdf in pdfs:
            a = int(pdf["_is_a"].sum())
            na += a
            nb += len(pdf) - a
        upd += 1
        state.update((na, nb, upd))
        yield pd.DataFrame(
            {"cell": [key[0]], "n_a": [na], "n_b": [nb], "upd": [upd]}
        )

    return rows.groupBy("cell").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )

"""Structured-Streaming ingest for transcripts (incremental ER).

north_rule's resumability is batch-incremental, but a production
transcript feed arrives continuously; this module gives the engine a
streaming front door: readStream over a file/table source → watermarked
dedup on (conv_id, turn_idx) → append to the transcripts checkpoint
table, which the batch pipeline then resumes from. Conversation
canonicalization itself stays batch (a conversation is only "closed"
after a quiet period — enforced by the watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_resolution__spark.schema import TRANSCRIPTS


def read_transcript_stream(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    return (
        spark.readStream.format(fmt)
        .schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", 16)
        .load(path)
    )


def deduped_turns(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Exactly-once turn stream: watermark on ts, drop duplicate
    (conv_id, turn_idx) within the watermark window.

    Uses dropDuplicatesWithinWatermark (Spark 3.5+): plain
    dropDuplicates without the event-time column in its key NEVER
    evicts dedup state — the watermark doesn't bound it, so a
    continuous feed grows the state store without limit (round-3
    review). WithinWatermark keys on (conv_id, turn_idx) and expires
    each key once the watermark passes its event time — bounded state,
    which is the only viable semantics at 10¹²-turn scale."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def closed_conversation_ids(
    stream: DataFrame, watermark: str = "10 minutes", quiet: str = "5 minutes"
) -> DataFrame:
    """Conversations with no new turns for `quiet`: session-window agg —
    when a session window closes (watermark passes), the conversation is
    ready for the batch ER pipeline."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", quiet), F.col("conv_id"))
        .agg(F.count(F.lit(1)).alias("n_turns"), F.max("ts").alias("last_ts"))
        .select("conv_id", "n_turns", "last_ts")
    )


def write_to_landing(
    stream: DataFrame, out_path: str, checkpoint: str, trigger_secs: int = 30
):
    """Append-mode sink to the landing table the batch pipeline reads.
    (On a production cluster: .toTable('cat.db.transcripts') on Iceberg.)
    """
    return (
        stream.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_secs} seconds")
        .outputMode("append")
        .start()
    )


def signature_deduped_docs(
    stream: DataFrame,
    n_hashes: int = 4,
    watermark: str = "10 minutes",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming near-exact document dedup: drop documents whose k-hash
    MinHash signature matches an earlier document inside the watermark.

    The streaming analog of the batch dedup family: a full LSH near-dup
    (any-band collision + jaccard rerank) is inherently pairwise and
    stays batch; what CAN stream with bounded state is keyed dedup on
    the concatenated k-hash signature — two docs collide with
    probability J^k (J = token-set jaccard), so k=4 drops exact and
    token-reordered duplicates always (J=1), J=0.9 near-dups ~66% of
    the time, and unrelated docs essentially never. State is evicted by
    the watermark (dropDuplicatesWithinWatermark — same bounded-state
    rationale as deduped_turns), so the key store holds one signature
    per distinct doc per watermark window, not per corpus."""
    from entity_resolution__spark.operators.dedup import minhash_md5
    from entity_resolution__spark.operators.textstats import tokens_col

    toks = tokens_col(F.col(text_col))
    # Empty/null token sets would all collapse to one null-derived
    # signature (array_min over an empty array is null, concat_ws skips
    # nulls) — an empty doc would then suppress every later
    # whitespace-only doc in the watermark (round-4 ADVICE). Fall back
    # to md5 of the raw text so only byte-identical empty-ish docs dedup.
    sig = F.when(
        F.size(toks) > 0,
        F.md5(F.concat_ws("|", *[minhash_md5(toks, s) for s in range(n_hashes)])),
    ).otherwise(F.md5(F.concat(F.lit("raw|"), F.coalesce(F.col(text_col), F.lit("")))))
    return (
        stream.withColumn("_sig", sig)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_sig"])
        .drop("_sig")
    )


def conversation_progress(
    stream: DataFrame, timeout_ms: int = 30 * 60 * 1000
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState —
    the arbitrary-state API for semantics the built-in streaming
    operators can't express. Maintains a per-conversation RUNNING
    summary (turn count, first/last event time, distinct roles) in the
    state store, re-emits the updated row each micro-batch the
    conversation receives turns, and FINALIZES an idle conversation on
    a processing-time timeout (done=true, state removed) — the
    streaming analog of the batch rule that a conversation closes
    after a quiet period.

    State is BOUNDED: one small row per conversation alive inside the
    timeout horizon (the same bounded-state discipline as the dedup
    operators — at 10¹²-turn scale nothing may accumulate per corpus).
    Timestamps are held in state as epoch-micros longs (portable state
    encoding); the output surfaces real timestamps.

    Run it under a continuous trigger and stop it explicitly. Under
    ``trigger(availableNow=True)`` the processing-time timeout keeps
    scheduling no-data batches while any state row is alive, so the
    query need not terminate (observed: 17 batches in 20 s, and
    ``processAllAvailable()`` had not returned after 170 s).

    Output: (conv_id, n_turns, first_ts, last_ts, n_roles, done).
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("n_turns", T.LongType(), False),
            T.StructField("first_ts", T.TimestampType(), True),
            T.StructField("last_ts", T.TimestampType(), True),
            T.StructField("n_roles", T.LongType(), False),
            T.StructField("done", T.BooleanType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_turns", T.LongType()),
            T.StructField("first_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("roles", T.ArrayType(T.StringType())),
        ]
    )

    def update(key, pdfs, state: GroupState):
        conv_id = key[0]

        def emit(n, first_us, last_us, roles, done):
            return pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "n_turns": [n],
                    "first_ts": [
                        pd.Timestamp(first_us, unit="us")
                        if first_us is not None
                        else pd.NaT
                    ],
                    "last_ts": [
                        pd.Timestamp(last_us, unit="us")
                        if last_us is not None
                        else pd.NaT
                    ],
                    "n_roles": [len(roles)],
                    "done": [done],
                }
            )

        if state.hasTimedOut:
            n, first_us, last_us, roles = state.get
            state.remove()
            yield emit(n, first_us, last_us, roles or [], True)
            return
        n, first_us, last_us, roles = (
            state.get if state.exists else (0, None, None, [])
        )
        role_set = set(roles or [])
        for pdf in pdfs:
            n += len(pdf)
            ts = pd.to_datetime(pdf["ts"]).dropna()
            if len(ts):
                mn = int(ts.min().value // 1000)
                mx = int(ts.max().value // 1000)
                first_us = mn if first_us is None else min(first_us, mn)
                last_us = mx if last_us is None else max(last_us, mx)
            role_set.update(r for r in pdf["role"].dropna())
        state.update((n, first_us, last_us, sorted(role_set)))
        state.setTimeoutDuration(timeout_ms)
        yield emit(n, first_us, last_us, role_set, False)

    return stream.groupBy("conv_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def windowed_event_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    type_col: str | None = None,
) -> DataFrame:
    """Watermarked tumbling-window event counts — the core Structured
    Streaming aggregation shape (groupBy window(ts) with late-data
    handling) the streaming family lacked next to dedup and the custom
    stateful op.

    Append-mode semantics: a window row emits ONLY once the watermark
    passes its end (the window is closed — its count is final and
    exactly-once), and a row arriving LATER than the watermark is
    dropped rather than mutating an already-emitted window. State is
    one partial count per open (window, type) — bounded by
    watermark/window, independent of event volume; at 10¹²-event scale
    the partial aggregation happens map-side before the keyed state
    shuffle, so the state store sees combiner output, not raw rows."""
    keys = [F.window(F.col(ts_col), window)]
    if type_col:
        keys.append(F.col(type_col))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            *([type_col] if type_col else []),
            "n_events",
        )
    )


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join — the stateless Structured
    Streaming join shape (stream joined to a batch dim per microbatch):
    the dim is explicitly broadcast so each microbatch is a map-only
    enrichment with NO streaming state and no stream-side shuffle, and
    the static side is re-resolved per trigger, so slowly-changing dims
    (the usual user/cohort table) are picked up without restarting the
    query. At 10¹²-event scale this is the only join shape that adds
    zero state-store pressure."""
    return stream.join(F.broadcast(dim), on, how)

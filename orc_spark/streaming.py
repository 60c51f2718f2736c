"""Structured Streaming ingestion into the encoded warehouse.

Continuous arrival of pre-tokenized documents is encoded micro-batch by
micro-batch through the SAME batch pipeline (`encode_table`) via
foreachBatch, one snapshot per micro-batch:

  readStream(parquet dir / kafka / ...) -> foreachBatch:
      encode_table(batch_df, warehouse, snapshot=f"stream-{batch_id}")

Exactly-once end to end, with no extra machinery: Spark's streaming
checkpoint replays a failed micro-batch with the SAME batch_id, and
`encode_table` is idempotent per snapshot: a batch whose snapshot is
committed returns at once (no map job runs), and one whose driver died
before the commit adopts the complete files it left and commits once — so
replays converge on the identical committed state. Decoding the union of
all `stream-*` snapshots reproduces every ingested row bit-identically.

Also provides the watermarked event-time rollup (`windowed_token_stats`) —
the streaming twin of relational.events_hourly — for ingestion monitoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from .pipeline import encode_table

TOKENS_SCHEMA = (
    "doc_id string, tokens array<int>, n_tok int, source string"
)


def read_tokens_stream(spark, input_dir: str, max_files: int = 1) -> DataFrame:
    """File-arrival stream of tokens-table parquet (swap for kafka/etc. in
    production — everything downstream only needs the 4-column schema)."""
    return (
        spark.readStream.schema(TOKENS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def encode_stream(
    stream_df: DataFrame,
    warehouse: str,
    checkpoint: str,
    salt_buckets: int = 8,
    stripe_tokens: int = 4_000_000,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the streaming encode. With available_now=True it drains the
    backlog and stops (the testable mode); otherwise it runs continuously."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        encode_table(
            batch_df.sparkSession,
            batch_df,
            warehouse,
            snapshot=f"stream-{batch_id:012d}",
            salt_buckets=salt_buckets,
            stripe_tokens=stripe_tokens,
        )

    writer = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def running_source_totals(stream_df: DataFrame) -> DataFrame:
    """Custom STATEFUL streaming operator via applyInPandasWithState: exact
    running (cumulative) ingest totals per source across micro-batches —
    the bookkeeping a resumable ingestion service exposes. State per key is
    two counters (bounded, no timeout needed); each micro-batch emits the
    updated running totals for the sources it touched. Arrow-batched pandas
    inside the state function, no per-row Python."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        docs, toks = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            docs += len(pdf)
            toks += int(pdf["n_tok"].sum())
        state.update((docs, toks))
        yield pd.DataFrame(
            {"source": [key[0]], "total_docs": [docs], "total_tokens": [toks]}
        )

    return stream_df.groupBy("source").applyInPandasWithState(
        update,
        outputStructType="source string, total_docs long, total_tokens long",
        stateStructType="docs long, toks long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_token_stats(
    stream_df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window ingestion stats per source: docs, tokens.
    Late rows beyond the watermark are dropped (state stays bounded)."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )

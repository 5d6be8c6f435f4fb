"""Structured Streaming rollup: the 1m continuous aggregate as a stream.

The reference is batch-only (arrays in/out — SURVEY §2.9: no watermarks or
late data anywhere), and the north rule's pipeline is batch with snapshot
checkpoints. This module is the streaming-ingest complement: the same
tumbling-window aggregate maintained incrementally over a transcript stream,
with event-time watermarking for late turns.

Notes:
- the aggregation is the SAME wide shape as the batch rollup minus exact
  percentiles: exact p50/p99 buffer every value per open window forever, so
  the streaming tier keeps algebraic stats only (cnt/sum/mean/min/max) —
  exact percentiles stay a batch/cold-tier concern (rollup.py), which is
  also how production TSDBs split this;
- latency (ts - previous turn ts) needs per-conversation ordering, which a
  streaming window agg cannot see → derived only within the micro-batch via
  foreachBatch in `stream_rollup_foreach_batch`, or skipped in the
  pure-aggregation path (token_count only);
- sequential detector kernels stream via ``applyInPandasWithState``
  (`streaming_cusum`): per-conversation state across micro-batches, exact
  batch-kernel parity on the concatenated stream;
- `trigger(availableNow=True)` + file source makes the pipeline testable
  hermetically and restart-resumable from the checkpoint dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .rollup import token_count_col
from .schema import TRANSCRIPTS_SCHEMA


def read_transcript_stream(spark: SparkSession, path: str) -> DataFrame:
    return spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(path)


def streaming_rollup_1m(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Event-time 1m token_count rollup with late-data watermark.

    Append-mode compatible: a window finalizes once the watermark passes its
    end, after which late turns are dropped (the batch pipeline's
    incremental recompute path is the corrector of record for stragglers)."""
    return (
        stream.withColumn("token_count", token_count_col().cast("double"))
        .withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", "1 minute").alias("w"))
        .agg(
            F.count("token_count").alias("cnt"),
            F.sum("token_count").alias("sum"),
            F.avg("token_count").alias("mean"),
            F.min("token_count").alias("min"),
            F.max("token_count").alias("max"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("bucket_start"),
            F.lit("token_count").alias("metric"),
            "cnt",
            "sum",
            "mean",
            "min",
            "max",
        )
    )


def streaming_sessions(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming inactivity-gap sessionization via Spark's native
    session_window: a session closes once no turn arrives within `gap`, and
    finalizes (append mode) when the watermark passes its end. The streaming
    complement of the batch rollup.with_session_id split — same gap
    semantics (a turn exactly `gap` after the previous one EXTENDS the
    session: session_window merges on overlap-or-touch, matching the batch
    path's strict '>' split).

    State per open session is one merged window + partial aggregates —
    bounded by active conversations, evicted at the watermark.
    """
    return (
        stream.withColumn("token_count", token_count_col().cast("double"))
        .withWatermark("ts", watermark)
        .groupBy("conv_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count("token_count").alias("n_turns"),
            F.sum("token_count").alias("token_sum"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_turns",
            "token_sum",
        )
    )


def run_stream_to_memory(
    stream_agg: DataFrame, query_name: str, checkpoint_dir: str, mode: str = "append"
):
    """Drain all available input into an in-memory table (tests / demos)."""
    q = (
        stream_agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_cusum(
    stream: DataFrame,
    value_col: str = "token_count",
    expected_mean: float = 0.0,
    expected_std_dev: float = 1.0,
    slack_factor: float = 0.0,
    threshold_factor: float = 5.0,
    max_pending: int = 10_000,
) -> DataFrame:
    """Custom STATEFUL operator: per-conversation two-sided CUSUM alarms over
    a transcript stream via ``applyInPandasWithState``.

    The batch kernel (kernels/cusum.py, CUSUMAlgorithm.cs:60-85) is a
    sequential fold — windowed aggregation cannot express it — so each
    conversation carries detector state across micro-batches. Feeding the
    same turns through any micro-batch split yields exactly
    ``cusum(concatenated_signal)``: alarm indices are global sample
    positions, the i=0 sample only primes the state (the kernel's scan
    starts at i=1), and an accumulation that STRADDLES a batch boundary
    still alarms (asserted in tests/test_streaming.py).

    Ordering contract: the detector consumes turns strictly in turn_idx
    order. Rows within a micro-batch are sorted first; a turn that arrives
    AHEAD of a still-in-flight earlier turn (turn_idx > next expected) is
    buffered in state and consumed once the gap fills — so batch-kernel
    parity holds under ANY cross-batch reordering as long as every turn
    eventually arrives and no more than `max_pending` turns are buffered
    per conversation. Disorder is never silent: a truly late row (behind
    the consumed position) emits a `kind='late_dropped'` diagnostic row,
    and a buffer overflow abandons the gap — fast-forwarding to the
    earliest buffered turn — with a `kind='gap_skipped'` row whose
    alarm_idx carries the number of skipped positions. Alarm rows have
    `kind='alarm'`; filter on it downstream. The batch detector remains the
    corrector of record.

    Scale shape: steady-state is 3 scalars + an empty buffer per
    conversation; the buffer only grows while a gap is open and is bounded
    by `max_pending` (0 disables buffering: gap rows consume immediately,
    visibly skipping the missing positions via gap_skipped rows).
    Grouped by conv_id — the same parallelism unit as every batch kernel.
    """
    if expected_std_dev <= 0:
        raise ValueError("expected_std_dev must be positive")
    if threshold_factor <= 0:
        raise ValueError("threshold_factor must be positive")
    if slack_factor < 0:
        raise ValueError("slack_factor must be non-negative")
    if max_pending < 0:
        raise ValueError("max_pending must be non-negative")

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("alarm_idx", LongType()),
            StructField("turn_idx", LongType()),
            StructField("kind", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("high", DoubleType()),
            StructField("low", DoubleType()),
            StructField("n_seen", LongType()),
            StructField("pend_t", ArrayType(LongType())),
            StructField("pend_v", ArrayType(DoubleType())),
            StructField("n_late", LongType()),
            StructField("n_skipped", LongType()),
        ]
    )
    threshold = threshold_factor * expected_std_dev
    slack = slack_factor * expected_std_dev

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.exists:
            high, low, n_seen, pend_t, pend_v, n_late, n_skipped = state.get
            pending = dict(zip(pend_t or (), pend_v or ()))
        else:
            high, low, n_seen, pending, n_late, n_skipped = 0.0, 0.0, 0, {}, 0, 0
        out: list[tuple[int | None, int, str]] = []

        def consume(tidx: int, v: float):
            nonlocal high, low, n_seen
            i = n_seen
            n_seen += 1
            if i == 0:
                return  # kernel scan starts at i=1
            high = max(0.0, high + float(v) - expected_mean - slack)
            low = min(0.0, low + float(v) - expected_mean + slack)
            if high > threshold or low < -threshold:
                out.append((i, int(tidx), "alarm"))
                high = 0.0
                low = 0.0

        def drain():
            while n_seen in pending:
                consume(n_seen, pending.pop(n_seen))

        for pdf in pdf_iter:
            pdf = pdf.sort_values("turn_idx")
            for tidx, v in zip(pdf["turn_idx"].to_numpy(), pdf[value_col].to_numpy()):
                tidx = int(tidx)
                if tidx < n_seen:
                    n_late += 1
                    out.append((None, tidx, "late_dropped"))
                elif tidx == n_seen:
                    consume(tidx, float(v))
                    drain()
                else:
                    pending[tidx] = float(v)
                    if len(pending) > max_pending:
                        # abandon the open gap: fast-forward to the earliest
                        # buffered turn; positions [n_seen, nxt) are lost
                        nxt = min(pending)
                        n_skipped += nxt - n_seen
                        out.append((nxt - n_seen, nxt, "gap_skipped"))
                        n_seen = nxt
                        drain()
        state.update(
            (high, low, n_seen, list(pending.keys()), list(pending.values()), n_late, n_skipped)
        )
        yield pd.DataFrame(
            [(key[0], a, t, k) for a, t, k in out],
            columns=["conv_id", "alarm_idx", "turn_idx", "kind"],
        )

    return stream.groupBy("conv_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_rollup_foreach_batch(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    checkpoint_dir: str,
):
    """Micro-batch bridge into the batch engine: each micro-batch runs the
    FULL batch rollup (both metrics, exact percentiles) via foreachBatch and
    appends per-batch partitions. Gives streaming ingest + batch semantics;
    per-conv latency is exact within a micro-batch (file-grain ingest keeps
    conversations together in practice; the snapshot pipeline remains the
    corrector of record)."""
    from .rollup import rollup, with_derived_metrics

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        out = rollup(with_derived_metrics(batch_df), "1m").withColumn(
            "batch_id", F.lit(batch_id)
        )
        out.write.mode("append").parquet(f"{output_root}/tier=1m_stream")

    stream = read_transcript_stream(spark, input_path)
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q

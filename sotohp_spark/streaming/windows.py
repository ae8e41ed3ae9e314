"""Event-time streaming aggregation — beyond the reference (which has
no event-time engine, SURVEY §2.9): tumbling/sliding windowed counts
with watermarked late-data handling over a turns stream, the shape a
transcript-ingest pipeline needs for live monitoring at 10^12-turn
scale (per-tool error rates, turn throughput).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_turn_counts(
    turns_stream: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-window, per-role turn counts with a watermark bounding state.

    Works on both a readStream source and (for tests) a batch frame —
    the plan is identical; only the sink differs.
    """
    w = (
        F.window("ts", window, slide)
        if slide
        else F.window("ts", window)
    )
    src = turns_stream
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    return src.groupBy(w.alias("win"), "role").agg(
        F.count("*").alias("n_turns"),
        F.approx_count_distinct("conv_id").alias("n_convs"),
    )


def deduped_turns_stream(
    turns_stream: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Exactly-once turn stream under at-least-once delivery: drop
    re-delivered (conv_id, turn_idx) rows.  Streaming uses
    dropDuplicatesWithinWatermark so the dedup state is BOUNDED by
    event time (plain dropDuplicates keys state forever — an unbounded
    state store on an infinite stream); batch frames take the plain
    distinct, same semantics."""
    if turns_stream.isStreaming:
        return turns_stream.withWatermark(
            "ts", watermark
        ).dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    return turns_stream.dropDuplicates(["conv_id", "turn_idx"])


def completed_conversations_stream(
    turns_stream: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "0 seconds",
) -> DataFrame:
    """CUSTOM stateful operator (applyInPandasWithState): declare a
    conversation COMPLETE once no new turn has arrived for
    ``gap_minutes`` of event time, and emit its summary exactly once.

    This is the engine's ingest precondition made streaming: "a
    conversation is indexed once complete" (streaming/incremental.py) —
    the reference decides completeness by batch boundaries
    (synchronize processes a finished directory scan); on a live turn
    stream it needs per-key state + an event-time timeout, which the
    built-in session_window cannot express as emit-once-per-key with
    carried aggregates.

    State per conv_id: (n_turns, min_ts, max_ts), updated per
    micro-batch; the event-time timeout is re-armed to
    max_ts + gap on every update and fires when the watermark passes
    it.  Output rows feed straight into append_conversations.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "conv_id string, n_turns long, min_ts timestamp, max_ts timestamp"
    )
    state_schema = "n_turns long, min_ts timestamp, max_ts timestamp"
    gap_ms = gap_minutes * 60 * 1000
    # pandas timestamps arriving in the state function are NAIVE in the
    # SESSION timezone — localizing them as UTC would offset the
    # timeout by the tz delta whenever spark.sql.session.timeZone is
    # not UTC (conversations would complete early/late by that delta)
    tz_name = turns_stream.sparkSession.conf.get("spark.sql.session.timeZone")

    def detect(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, mn, mx = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "conv_id": key[0],
                        "n_turns": n,
                        "min_ts": mn,
                        "max_ts": mx,
                    }
                ]
            )
            return
        n, mn, mx = (state.get if state.exists else (0, None, None))
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            b_mn, b_mx = pdf["ts"].min(), pdf["ts"].max()
            mn = b_mn if mn is None else min(mn, b_mn)
            mx = b_mx if mx is None else max(mx, b_mx)
        if mx is not None:
            state.update((int(n), mn, mx))
            # ambiguous=True / shift_forward: an event time inside a
            # DST transition hour picks the DST side deterministically
            # instead of poison-pilling the stream (the timeout shifts
            # by at most the transition delta, bounded by the gap)
            epoch_ms = int(
                pd.Timestamp(mx)
                .tz_localize(tz_name, ambiguous=True, nonexistent="shift_forward")
                .timestamp() * 1000
            )
            state.setTimeoutTimestamp(epoch_ms + gap_ms)
        yield pd.DataFrame(
            {
                "conv_id": pd.Series([], dtype=str),
                "n_turns": pd.Series([], dtype="int64"),
                "min_ts": pd.Series([], dtype="datetime64[us]"),
                "max_ts": pd.Series([], dtype="datetime64[us]"),
            }
        )

    return (
        turns_stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            detect,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )

"""Streaming layer — incremental ingest of the pages/events firehose.

The reference is batch-only; this layer is the target's path for continuous
Common-Crawl-style ingestion: the same blocking-key and fingerprint functions
applied on a stream, with watermarks bounding state.

* ``windowed_event_counts`` — tumbling-window counts/sums with a watermark
  (late data beyond the watermark dropped deterministically).
* ``streaming_exact_dedup`` — ``dropDuplicates`` on the content fingerprint
  within the watermark horizon: the streaming analog of exact dedup.
* ``streaming_block_sizes`` — running block-key cardinalities (update mode),
  the streaming analog of G1 and the feed for hot-key monitoring.
* ``sessionize`` — ``applyInPandasWithState`` example of a custom stateful
  operator: per-user event sessions split on a gap timeout.  State is one
  small tuple per key; timeouts evict idle keys so state is bounded.
* ``stream_purchase_click_pairs`` — stream-stream interval join with
  watermarks on both sides; buffered state expires at watermark + window.
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions import text as T
from ..operators.blocking import block_key_rows


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window per-type counts/sums; watermark bounds agg state."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def streaming_exact_dedup(
    pages: DataFrame, watermark: str = "1 hour", ts_col: str = "warc_ts"
) -> DataFrame:
    """First occurrence per content fingerprint within the watermark horizon."""
    fp = pages.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withColumn(
        "fp", T.fingerprint(F.col("text"))
    )
    return fp.withWatermark(ts_col, watermark).dropDuplicates(["fp"])


def _stream_block_keys(pages: DataFrame, ts_col: str, keep: list[str]) -> DataFrame:
    """``keep`` + ``block_key`` rows of the batch ER blocking rule
    (``ERConfig().stages``) over page titles.  No ``distinct``: on a stream
    that would be unbounded state."""
    from ..plans.pipeline import ERConfig

    titled = pages.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withColumn(
        "title", T.title_of(F.col("text"))
    )
    return block_key_rows(titled, ERConfig().stages, keep)


def streaming_block_sizes(
    pages: DataFrame, watermark: str = "1 hour", ts_col: str = "warc_ts"
) -> DataFrame:
    """Per-window block-key sizes under the ER blocking rule (hot-key
    monitor feed)."""
    keyed = _stream_block_keys(pages, ts_col, [ts_col])
    return (
        keyed.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 hour").alias("w"), "block_key")
        .agg(F.count("*").alias("block_size"))
        .select(F.col("w.start").alias("window_start"), "block_key", "block_size")
    )


PAIR_SCHEMA = "block_key string, id1 long, id2 long"
_BLOCK_STATE_SCHEMA = "members array<long>"


def _incremental_pairs_fn(key, pdfs, state: "GroupState"):
    """Per-block state = member ids seen so far (capped); each arriving record
    emits candidate pairs against the existing members — the streaming analog
    of the batch block-local self-join (G2), with the block-size cap doubling
    as the state bound (hot keys stop emitting once capped, exactly like
    batch block purging)."""
    import pandas as pd

    (block_key,) = key
    cap = 1000
    members: list[int] = list(state.get[0]) if state.exists else []
    seen = set(members)
    out1, out2 = [], []
    for pdf in pdfs:
        for rid in pdf["record_id"]:
            rid = int(rid)
            if rid in seen or len(members) >= cap:
                continue
            for m in members:
                out1.append(min(m, rid))
                out2.append(max(m, rid))
            members.append(rid)
            seen.add(rid)
    state.update((members,))
    if out1:
        yield pd.DataFrame(
            {"block_key": [block_key] * len(out1), "id1": out1, "id2": out2}
        )


def incremental_candidate_pairs(pages: DataFrame, watermark: str = "1 hour",
                                ts_col: str = "warc_ts") -> DataFrame:
    """Streaming candidate pairs: new page → block keys → pairs vs the
    block's previously-seen members (stateful, bounded per-block state)."""
    keyed = _stream_block_keys(
        pages.withColumn("record_id", F.xxhash64("url")), ts_col, [ts_col, "record_id"]
    )
    return (
        keyed.withWatermark(ts_col, watermark)
        .groupBy("block_key")
        .applyInPandasWithState(
            _incremental_pairs_fn,
            outputStructType=PAIR_SCHEMA,
            stateStructType=_BLOCK_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SESSION_SCHEMA = "user_id long, session_start timestamp, session_end timestamp, n_events int"
_STATE_SCHEMA = "start long, last long, n int"


def _sessionize_fn(
    key: tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    """Emit closed sessions; keep the open session in state (epoch seconds)."""
    gap_s = 30 * 60
    (user_id,) = key
    if state.hasTimedOut:
        if state.exists:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start, unit="s")],
                    "session_end": [pd.Timestamp(last, unit="s")],
                    "n_events": [n],
                }
            )
        return
    ts: list[float] = []
    for pdf in pdfs:
        ts.extend(pdf["ts"].astype("int64").to_numpy() // 1_000_000_000)
    ts.sort()
    if state.exists:
        start, last, n = state.get
    else:
        start, last, n = ts[0], ts[0], 0
    out = []
    for t in ts:
        if t - last > gap_s:
            out.append((user_id, start, last, n))
            start, n = t, 0
        last = max(last, t)
        n += 1
    state.update((int(start), int(last), int(n)))
    # event-time timeout: the session closes once the watermark passes its
    # end, so an availableNow query stops scheduling batches and ends
    state.setTimeoutTimestamp((int(last) + gap_s) * 1000)
    if out:
        yield pd.DataFrame(
            {
                "user_id": [o[0] for o in out],
                "session_start": [pd.Timestamp(o[1], unit="s") for o in out],
                "session_end": [pd.Timestamp(o[2], unit="s") for o in out],
                "n_events": [o[3] for o in out],
            }
        )


def sessionize(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (gap sessions)."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_purchase_click_pairs(
    events: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each purchase paired with the same
    user's clicks in the preceding ``attribution_window`` — the streaming
    analog of the batch as-of/range attribution (``relational.asof_join``
    feeds the top-1 variant downstream).

    Both sides carry watermarks and the join predicate bounds click time to
    ``[purchase_ts - window, purchase_ts]``, so Spark can expire buffered
    rows once the watermark passes — state is bounded by (watermark +
    window) of traffic per user, never the full history.
    """
    e = events.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = (
        e.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = F.expr(
        "user_id = c_user AND click_ts <= purchase_ts "
        f"AND click_ts >= purchase_ts - interval {attribution_window}"
    )
    return purchases.join(clicks, cond).select(
        "purchase_id", "user_id", "purchase_ts", "click_id", "click_ts", "value"
    )

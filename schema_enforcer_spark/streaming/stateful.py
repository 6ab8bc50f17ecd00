"""Custom stateful streaming validator via applyInPandasWithState.

Tracks per-conversation state (max turn_idx, turn count, reported overcount,
max event-time) across micro-batches and emits violations the stateless
path can't see:

- duplicate/regressed turn indices arriving in LATER batches than the
  original turn;
- ts regressions ACROSS batches (W1's ordering half for streams): a later
  micro-batch delivering an event time earlier than the conversation's
  already-seen maximum. Within-batch ordering stays in the stateless
  windowed path (plain window comparisons after shuffle-by-conv); the state
  closes the cross-batch gap.

State is four longs per conversation, evicted after 30 min of
processing-time idleness — the store is bounded by recently-ACTIVE
conversations (~32 bytes each), not all conversations ever seen.

availableNow caveat (drain-and-stop maintenance runs): pending
processing-time timers make MicroBatchExecution keep scheduling NO-DATA
micro-batches until every timer has fired — with a 30-min idle timeout the
"drain available data and terminate" query spins empty batches for 30
minutes. For such runs set
``spark.sql.streaming.noDataMicroBatches.enabled=false`` (eviction then
rides on data batches only, which is the correct trade for a bounded run);
continuous production streams keep the default, where no-data batches are
exactly what lets idle state expire.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_OUT_DDL = (
    "conv_id string, turn_idx int, kind string, message string"
)
_STATE_DDL = "max_idx long, n_seen long, over_reported long, max_ts_ns long"


def _contiguity_fn(key, batches: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    if state.hasTimedOut:
        # idle conversation: evict the state entry (the watermark analogue —
        # without this the store grows monotonically with ever-new conv_ids)
        state.remove()
        return
    max_idx, n_seen, over_reported, max_ts_ns = (
        state.get if state.exists else (-1, 0, 0, -1)
    )
    # ts regressions are judged against the max ts seen in PRIOR batches
    # only — within-batch ordering is the stateless path's job, and judging
    # against a same-batch running max would double-report it here
    prior_max_ts = max_ts_ns
    seen_now: set[int] = set()
    out_rows = []
    for pdf in batches:
        has_ts = "ts" in pdf.columns
        if has_ts:
            ts_null = pdf["ts"].isna()
            if pdf["ts"].dtype.kind == "M":
                # datetime64: NaT converts to the int64-min sentinel, guarded
                # below by ts_null
                ts_ns = pdf["ts"].astype("int64")
            else:
                # integer-epoch ts arrives as float64 when any row is NULL;
                # pandas 2.x astype('int64') raises on NaN — zero-fill the
                # nulls (never read: the per-row guard skips them)
                ts_ns = pd.to_numeric(pdf["ts"], errors="coerce").fillna(0).astype("int64")
        else:
            ts_ns = ts_null = None
        for i, idx in enumerate(pdf["turn_idx"]):
            idx = int(idx)
            if idx <= max_idx or idx in seen_now:
                out_rows.append(
                    (conv_id, idx, "duplicate_or_regressed",
                     f"turn_idx {idx} arrived again (state max {max(max_idx, idx)})")
                )
            seen_now.add(idx)
            n_seen += 1
            if idx > max_idx:
                max_idx = idx
            if has_ts and not bool(ts_null.iloc[i]):
                t = int(ts_ns.iloc[i])
                if prior_max_ts >= 0 and t < prior_max_ts:
                    out_rows.append(
                        (conv_id, idx, "ts_regression",
                         f"ts at turn_idx {idx} is earlier than the "
                         f"conversation's previously seen maximum "
                         f"(delta {(prior_max_ts - t) // 1_000_000_000}s)")
                    )
                if t > max_ts_ns:
                    max_ts_ns = t
    # n_seen > max_idx+1 ⇒ some index occurred twice. Alert only when the
    # overcount GROWS — re-emitting the historical total on every clean
    # later batch would turn one duplicate into an unbounded alert stream.
    overcount = max(n_seen - (max_idx + 1), 0)
    if overcount > over_reported:
        out_rows.append(
            (conv_id, max_idx, "overcount",
             f"{n_seen} turns seen but max turn_idx is {max_idx} — duplicates exist")
        )
        over_reported = overcount
    state.update((max_idx, n_seen, over_reported, max_ts_ns))
    state.setTimeoutDuration(_IDLE_TIMEOUT_MS)
    if out_rows:
        yield pd.DataFrame(out_rows, columns=["conv_id", "turn_idx", "kind", "message"])


# evict per-conversation state after this much processing-time idleness —
# bounds the store at |recently-active conversations|, not |all ever seen|
_IDLE_TIMEOUT_MS = 30 * 60 * 1000


_RATE_OUT_DDL = "key string, ts_epoch long, n_recent long, message string"
# comma-joined epoch list, NOT array<long>: an array-typed state column makes
# the HDFSStateStore commit hang in PySpark 4.1.2's applyInPandasWithState
# (availableNow run never terminates) — scalar state round-trips fine, and
# the list is bounded at max_count entries anyway
_RATE_STATE_DDL = "times string"


def stream_rate_limit(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    window_seconds: int,
    max_count: int,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of the batch ``rate_limit`` rule (burst detection):
    per key, emit a violation for every event whose trailing
    ``window_seconds`` (inclusive) holds more than ``max_count`` events —
    across micro-batch boundaries.

    State is BOUNDED BY THE RULE, not by traffic: only the ``max_count``
    most recent event times are retained per key (longs), because the check
    only needs to know whether the trailing count *exceeds* max_count —
    n_recent therefore saturates at max_count+1 under sustained floods
    (the batch rule reports exact counts; re-run it over the closed data
    for forensics). Counting is exact for in-order streams; an extremely
    reordered stream can under-count (retained times are the newest, a
    late event's window may overlap evicted older ones) — late data is the
    watermark's job, this state closes the cross-batch gap. Events inside
    each batch are processed in event-time order so within-batch bursts
    fire exactly like the batch RANGE frame.

    Keys idle for ``idle_timeout_ms`` (default: 2× the window, min 60 s) of
    processing time are evicted, like the contiguity state."""
    if idle_timeout_ms is None:
        idle_timeout_ms = max(2 * window_seconds * 1000, 60_000)

    def _fn(key, batches: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (k,) = key
        if state.hasTimedOut:
            state.remove()
            return
        raw = state.get[0] if state.exists else ""
        times = [int(x) for x in raw.split(",") if x] if raw else []
        out_rows = []
        pdfs = [pdf for pdf in batches]
        if pdfs:
            allb = pd.concat(pdfs, ignore_index=True).sort_values("_ts_e")
            for t in allb["_ts_e"]:
                t = int(t)
                n = 1 + sum(1 for x in times if t - window_seconds < x <= t)
                if n > max_count:
                    out_rows.append(
                        (k, t, n,
                         f"'{k}' saw {n} rows within {window_seconds}s; "
                         f"at most {max_count} allowed")
                    )
                times.append(t)
                times = sorted(times)[-max_count:]
        state.update((",".join(str(x) for x in times),))
        state.setTimeoutDuration(idle_timeout_ms)
        if out_rows:
            yield pd.DataFrame(out_rows, columns=["key", "ts_epoch", "n_recent", "message"])

    return (
        stream_df.select(
            F.col(key_col).cast("string").alias("_k"),
            F.col(ts_col).cast("long").alias("_ts_e"),
        )
        .filter(F.col("_k").isNotNull() & F.col("_ts_e").isNotNull())
        .groupBy("_k")
        .applyInPandasWithState(
            _fn,
            outputStructType=_RATE_OUT_DDL,
            stateStructType=_RATE_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def stream_stateful_contiguity(stream_df: DataFrame) -> DataFrame:
    """Per-conversation stateful duplicate/regression + cross-batch
    ts-monotonicity detection across micro-batches. Shuffles on conv_id (the
    same key as the batch engine's window pass). State is four longs per
    conversation and is EVICTED after 30 min of processing-time idleness,
    so the store tracks active conversations, not all conversations ever
    seen. The ``ts`` column is optional — without it only the
    turn-idx checks run."""
    cols = ["conv_id", "turn_idx"] + (["ts"] if "ts" in stream_df.columns else [])
    return (
        stream_df.select(*[F.col(c) for c in cols])
        .groupBy("conv_id")
        .applyInPandasWithState(
            _contiguity_fn,
            outputStructType=_OUT_DDL,
            stateStructType=_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )

"""Arbitrary-stateful streaming trackers (``applyInPandasWithState``)
and the stream-stream interval join: operators whose output depends
on state carried across micro-batches, which no builtin streaming
aggregation expresses. Where a tracker has a batch twin in
``analytics``, both call the same kernel in ``functions``."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.sketch import cusum_fold, mg_truncate


DEVICE_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("uid", T.StringType()),
        T.StructField("n_total", T.LongType()),
        T.StructField("first_ts", T.TimestampType()),
        T.StructField("last_ts", T.TimestampType()),
        T.StructField("n_gaps", T.LongType()),
    ]
)

_DEVICE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_total", T.LongType()),
        T.StructField("first_ts", T.LongType()),   # epoch µs (state must be flat)
        T.StructField("last_ts", T.LongType()),
        T.StructField("n_gaps", T.LongType()),
    ]
)


def device_state_tracker(
    df: DataFrame,
    ts_col: str = "time",
    gap_seconds: int = 3600,
) -> DataFrame:
    """Custom arbitrary-stateful operator (``applyInPandasWithState``):
    per-device running summary with dropout (gap) detection.

    State per uid = (count, first/last timestamp, gap count); each
    micro-batch updates it and emits the refreshed summary — the kind
    of operator the builtin windowed aggregations can't express
    (state is cross-window and output depends on previous state).

    Works identically over a stream or a batch DataFrame (batch runs
    as a single "micro-batch" with empty initial state). At 100 TB the
    state store is keyed by uid — RocksDB state backend, one entry per
    device, no unbounded growth.
    """
    import datetime as _dt

    def update(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (uid,) = key
        if state.exists:
            n_total, first_us, last_us, n_gaps = state.get
        else:
            n_total, first_us, last_us, n_gaps = 0, None, None, 0
        ts_all = []
        for pdf in pdfs:
            ts_all.extend(int(t.value // 1000) for t in pd.to_datetime(pdf[ts_col]))
        ts_all.sort()
        for t in ts_all:
            if last_us is not None and (t - last_us) > gap_seconds * 1_000_000:
                n_gaps += 1
            if first_us is None or t < first_us:
                first_us = t
            if last_us is None or t > last_us:
                last_us = t
            n_total += 1
        state.update((n_total, first_us, last_us, n_gaps))
        yield pd.DataFrame(
            {
                "uid": [uid],
                "n_total": [n_total],
                "first_ts": [_dt.datetime.utcfromtimestamp(first_us / 1e6)],
                "last_ts": [_dt.datetime.utcfromtimestamp(last_us / 1e6)],
                "n_gaps": [n_gaps],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return df.groupBy("uid").applyInPandasWithState(
        update,
        outputStructType=DEVICE_SUMMARY_SCHEMA,
        stateStructType=_DEVICE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower: str = "0 seconds",
    upper: str = "10 minutes",
    left_delay: str = "10 minutes",
    right_delay: str = "20 minutes",
) -> DataFrame:
    """Stream–stream interval join: match right-stream events that
    arrive within ``(left_ts + lower, left_ts + upper]`` of a
    left-stream event with the same key — the attribution join
    (impression→click, error→follow-up, order→payment) as a TRUE
    two-stream stateful join with a time-bounded join condition.

    Both sides carry watermarks and the join condition carries the
    time bound, which is what lets Structured Streaming EVICT buffered
    state: a left row can be dropped once the right watermark passes
    ``left_ts + upper``, so state is bounded by (rate × interval), not
    unbounded history. Without the time-range predicate Spark would
    have to keep every row forever.

    Scale: state is hash-partitioned by the join key across executors;
    at 100 TB/day the knobs are the watermark delays (lateness bound ↔
    state size) and `spark.sql.shuffle.partitions` for state spread.
    The right-side delay should be ≥ left delay + upper or matches at
    the upper edge can be dropped as late.
    """
    lw = left.withWatermark(left_ts, left_delay)
    rw = right.withWatermark(right_ts, right_delay)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] > F.expr(f"{left_ts} + interval {lower}"))
        & (rw[right_ts] <= F.expr(f"{left_ts} + interval {upper}"))
    )
    return lw.join(rw, cond, "inner").drop(rw[key])


_CUSUM_STATE_SCHEMA = "s long, mx long, alarms long, n long"


def _cusum_out_schema(key_col: str) -> str:
    return (
        f"{key_col} string, n_points long, cusum long, max_cusum long, "
        "n_alarms long"
    )


def cusum_tracker(
    df: DataFrame,
    mean: int,
    slack: int,
    threshold: int,
    key_col: str = "series",
    value_col: str = "x",
    seq_col: str = "seq",
) -> DataFrame:
    """Streaming CUSUM change detection — the stateful twin of batch
    q90 (analytics.advanced.q90_cusum): per-series one-sided CUSUM
    S = max(0, S + (x − μ − k)) with alarm-and-restart at S > H,
    carried ACROSS micro-batches via ``applyInPandasWithState``.

    The recurrence is order-dependent, so rows sort by ``seq_col``
    WITHIN each micro-batch and the caller feeds batches in series
    order (the same contract every ledger/replay source here honors:
    Kafka partitions by series key preserve per-key order). The step
    is ``functions.sketch.cusum_fold``, the kernel q90 runs, so batch
    and streaming paths agree exactly on the same inputs
    (pytest-asserted).

    State per series is four longs — RocksDB-backend-friendly, no
    growth with stream length. Output mode: refreshed summary per
    touched series per micro-batch.
    """

    def update(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (series,) = key
        if state.exists:
            s, mx, alarms, n = state.get
        else:
            s, mx, alarms, n = 0, 0, 0, 0
        rows = []
        for pdf in pdfs:
            rows.extend(
                (int(q), int(x)) for q, x in zip(pdf[seq_col], pdf[value_col])
            )
        rows.sort()
        s, mx, alarms = cusum_fold(
            (x for _, x in rows), s, mx, alarms, mean, slack, threshold
        )
        n += len(rows)
        state.update((s, mx, alarms, n))
        yield pd.DataFrame(
            {
                key_col: [series],
                "n_points": [n],
                "cusum": [s],
                "max_cusum": [mx],
                "n_alarms": [alarms],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=_cusum_out_schema(key_col),
        stateStructType=_CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming heavy hitters: Misra-Gries summary carried across micro-batches
# ---------------------------------------------------------------------------

_HH_STATE_SCHEMA = (
    "items array<string>, counts array<long>, n long, deficit long"
)


def _hh_out_schema(key_col: str) -> str:
    return (
        f"{key_col} string, items array<string>, counts array<long>, "
        "n_items long, deficit long"
    )


def heavy_hitters_tracker(
    df: DataFrame,
    k: int = 200,
    key_col: str = "series",
    item_col: str = "item",
) -> DataFrame:
    """Streaming heavy hitters — the stateful twin of batch q93's
    candidate pass: a per-key Misra-Gries summary of at most ``k``
    counters carried ACROSS micro-batches via ``applyInPandasWithState``
    (state is ≤ k (item, count) pairs + two longs per key, REGARDLESS
    of stream length — RocksDB-friendly, never grows).

    Each micro-batch adds its exact counts, then truncates with
    ``functions.sketch.mg_truncate``, the kernel q93 runs; the
    subtracted value accumulates in ``deficit``. Invariants maintained across any batch split (both
    pytest-asserted against a single-pass reference):

    * every summary count is a LOWER bound within ``deficit`` of the
      true count (true − deficit ≤ mg ≤ true);
    * any item with true count > n/(k+1) is IN the summary — the q93
      candidate-superset theorem, streaming edition.

    Emits per touched key per micro-batch: the summary (count-desc,
    item-asc — deterministic), items processed, and the deficit.
    """

    def update(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (series,) = key
        if state.exists:
            items, counts, n, deficit = state.get
            summary = pd.Series(list(counts), index=list(items), dtype="int64")
        else:
            summary, n, deficit = pd.Series(dtype="int64"), 0, 0
        for pdf in pdfs:
            vc = pdf[item_col].dropna().value_counts()
            n += int(vc.sum())
            summary, cut = mg_truncate(summary.add(vc, fill_value=0), k)
            deficit += cut
        ordered = sorted(
            ((i, int(c)) for i, c in summary.items()), key=lambda t: (-t[1], t[0])
        )
        state.update((
            [i for i, _ in ordered],
            [c for _, c in ordered],
            n,
            deficit,
        ))
        yield pd.DataFrame(
            {
                key_col: [series],
                "items": [[i for i, _ in ordered]],
                "counts": [[c for _, c in ordered]],
                "n_items": [n],
                "deficit": [deficit],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=_hh_out_schema(key_col),
        stateStructType=_HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# finalized-session emitter: gap sessionization with event-time timeout
# ---------------------------------------------------------------------------

_SESSION_STATE_SCHEMA = "start_us long, last_us long, n long"


def _session_out_schema(key_col: str) -> str:
    return (
        f"{key_col} string, session_start timestamp, session_end timestamp, "
        "n_events long, closed_by string"
    )


def session_tracker(
    df: DataFrame,
    gap_seconds: int = 1800,
    key_col: str = "user_id",
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Finalized-session emitter — gap-based sessionization that EMITS
    each session exactly once, when it provably cannot grow anymore.
    The streaming twin of batch q19 (analytics.relational), and the
    capability the builtin ``session_window`` aggregate can't express:
    per-session rows in APPEND mode with an explicit close reason.

    A session closes two ways:

    * ``closed_by='gap'`` — a LATER event for the key arrives more
      than ``gap_seconds`` after the session's last event (the closing
      evidence is data);
    * ``closed_by='timeout'`` — the event-time WATERMARK passes
      ``last_event + gap`` with no new events
      (``GroupStateTimeout.EventTimeTimeout``; the closing evidence is
      the absence of data, which only the watermark can certify).

    Late events within the watermark horizon that arrive out of order
    extend the open session without re-opening closed ones (rows sort
    by event time within each micro-batch; a cross-batch regression
    lands in the still-open session).

    State per key is three longs (session start/last/count) — bounded
    regardless of stream length, and REMOVED on timeout, so idle keys
    cost nothing (the device/cusum/heavy-hitter trackers keep state
    forever by design; sessions are the operator where eviction is the
    semantics). At 100 TB the state store is hash-partitioned by key;
    the watermark delay bounds both lateness tolerance and state
    lifetime.
    """
    gap_us = gap_seconds * 1_000_000

    def update(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (k,) = key
        closed: list[tuple[int, int, int, str]] = []
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            closed.append((start_us, last_us, n, "timeout"))
            state.remove()
        else:
            if state.exists:
                start_us, last_us, n = state.get
            else:
                start_us, last_us, n = None, None, 0
            ts_all: list[int] = []
            for pdf in pdfs:
                ts_all.extend(
                    int(t.value // 1000) for t in pd.to_datetime(pdf[ts_col])
                )
            ts_all.sort()
            # cross-batch regressions (within the watermark, earlier
            # than the open session's recorded start — ts_all is
            # sorted, so only carried state can sit ahead of t):
            # events beyond the gap of the open session's start build
            # their own PENDING session (gap-sessionized among
            # themselves, not emitted as fragments); an in-gap event
            # moves the open start backward, and if it also chains to
            # the pending session (≤ gap on both sides) the pending
            # session MERGES into the open one — matching what batch
            # sessionization of the concatenated events would produce.
            # A pending session still open at batch end closes by gap
            # (it is > gap from the open session, else it merged; an
            # even-later event that would extend it is the documented
            # cross-batch approximation of interval-only state).
            pending: list | None = None  # [start, last, count]
            for t in ts_all:
                if last_us is not None and t - last_us > gap_us:
                    closed.append((start_us, last_us, n, "gap"))
                    start_us, last_us, n = t, t, 0
                if start_us is None:
                    start_us = t
                elif t < start_us:
                    if start_us - t > gap_us:
                        # belongs before the open session
                        if pending is None:
                            pending = [t, t, 1]
                        elif t - pending[1] <= gap_us:
                            pending[1] = t
                            pending[2] += 1
                        else:
                            closed.append(
                                (pending[0], pending[1], pending[2], "gap")
                            )
                            pending = [t, t, 1]
                        continue
                    # in-gap: the session genuinely started earlier
                    # than first recorded — move the start back so
                    # session_start never postdates the earliest event
                    if pending is not None:
                        if t - pending[1] <= gap_us:
                            # pending chains through t into the open
                            # session — one real session, merge it
                            start_us = pending[0]
                            n += pending[2]
                        else:
                            closed.append(
                                (pending[0], pending[1], pending[2], "gap")
                            )
                        pending = None
                    if t < start_us:
                        start_us = t
                if last_us is None or t > last_us:
                    last_us = t
                n += 1
            if pending is not None:
                closed.append((pending[0], pending[1], pending[2], "gap"))
            if n:
                state.update((start_us, last_us, n))
                # close when the watermark certifies no event can still
                # join the session (epoch ms for the state API)
                state.setTimeoutTimestamp(last_us // 1000 + gap_seconds * 1000)
            else:  # all rows late-filtered upstream; nothing to track
                state.remove()
        if closed:
            yield pd.DataFrame(
                {
                    key_col: [k] * len(closed),
                    "session_start": [
                        pd.Timestamp(s, unit="us") for s, _, _, _ in closed
                    ],
                    "session_end": [
                        pd.Timestamp(e, unit="us") for _, e, _, _ in closed
                    ],
                    "n_events": [c for _, _, c, _ in closed],
                    "closed_by": [r for _, _, _, r in closed],
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        df.withWatermark(ts_col, delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=_session_out_schema(key_col),
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


_SLIDING_HLL_STATE_SCHEMA = "regs array<long>"


def _sliding_hll_out_schema() -> str:
    return (
        "day date, nonzero_registers long, sum_pow long, est_distinct_floor long"
    )


def sliding_hll_tracker(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    window_days: int = 7,
    delay: str = "1 day",
) -> DataFrame:
    """Streaming twin of q94's trailing-distinct series (E12 sliding
    SKETCH windows): "weekly active users by day" emitted as the
    watermark finalizes each day — COUNT(DISTINCT) cannot slide or
    stream, mergeable HLL registers do both.

    Shape: each event fans out to the ``window_days`` trailing-window
    SLOTS it contributes to (slot = window END day — the standard
    reverse-fanout streaming sliding windows use); state per slot is
    the Q62_M HLL registers, merged per micro-batch with register max
    — commutative AND idempotent, so out-of-order arrivals and
    replayed batches inside the watermark are harmless by
    construction. A slot emits ONCE when the event-time watermark
    passes its end-of-day (EventTimeTimeout) and its state is
    removed: state is bounded by (active slots ≤ window + lateness
    horizon) × Q62_M longs per... nothing grows with the stream.

    The bucket/rho arithmetic is q94's own kernel
    (``functions.sketch.hll_cells``), so the finalized rows are the
    batch operator's numbers — pinned by the stream ≡ batch
    equivalence test.
    """
    from ..functions.hashing import h64
    from ..functions.sketch import Q62_M, Q62_NUM, Q62_SHIFT, hll_cells

    # q94's hash, on user_col rather than the hardcoded user_id
    bucket, w, rho = hll_cells(h64(F.col(user_col).cast("string")))
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    base = df.withWatermark(ts_col, delay).select(
        F.col(ts_col), day.alias("day"), bucket, w
    )
    fanned = base.select(
        F.col(ts_col),
        F.explode(
            F.sequence("day", F.date_add("day", window_days - 1))
        ).alias("slot"),
        "bucket",
        rho.alias("rho"),
    )

    def update(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (slot,) = key
        if state.hasTimedOut:
            (regs,) = state.get
            nz = sum(1 for r in regs if r > 0)
            sum_pow = sum(1 << (Q62_SHIFT - r) for r in regs if r > 0)
            est = int(float(Q62_NUM) / sum_pow) if sum_pow else 0
            state.remove()
            yield pd.DataFrame(
                {
                    "day": [slot],
                    "nonzero_registers": [nz],
                    "sum_pow": [sum_pow],
                    "est_distinct_floor": [est],
                }
            )
            return
        regs = list(state.get[0]) if state.exists else None
        for pdf in pdfs:
            if not len(pdf):
                continue
            if regs is None:
                regs = [0] * Q62_M
            for b, r in zip(pdf["bucket"], pdf["rho"]):
                b = int(b)
                if r > regs[b]:
                    regs[b] = int(r)
        if regs is None:  # every row late-filtered upstream: no state,
            return        # no timeout — never a spurious all-zero slot
        state.update((regs,))
        # finalize when the watermark certifies the slot's day is over.
        # UTC-explicit epoch arithmetic (calendar.timegm): naive
        # .timestamp() applies the executor OS timezone, which on a
        # non-UTC host would time the slot out hours early and emit
        # duplicate partial rows
        import calendar as _cal
        import datetime as _dt

        end_of_day = _dt.datetime.combine(
            slot + _dt.timedelta(days=1), _dt.time.min
        )
        state.setTimeoutTimestamp(
            int(_cal.timegm(end_of_day.timetuple()) * 1000)
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return fanned.groupBy("slot").applyInPandasWithState(
        update,
        outputStructType=_sliding_hll_out_schema(),
        stateStructType=_SLIDING_HLL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

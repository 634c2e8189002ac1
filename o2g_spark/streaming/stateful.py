"""Custom stateful streaming operators (driver brief:
"applyInPandasWithState for custom stateful operators").

Op families for the crawl-stream case:

- :func:`dedup_stream` — keep the FIRST occurrence of each url within
  the watermark horizon (streaming analogue of dedup_exact; Spark's
  built-in ``dropDuplicatesWithinWatermark`` bounds the state).
- :func:`running_counts` — per-key running event counts + last-seen
  timestamp via ``applyInPandasWithState``: arbitrary per-key state in
  an Arrow-batched Python function, with processing-time timeout so
  idle keys are evicted (bounded state at an unbounded stream).
- :func:`cell_visits_stateful` — geofence-dwell visits: a *visit* is a
  maximal run of consecutive events (by time) in the same cell. The
  run boundary is a VALUE change, not a time gap, so neither
  ``F.window`` nor ``F.session_window`` expresses it; state carries
  each entity's open visit (per user, or per shard with ``shards=``).
  :func:`cell_visits_batch` is the pure-Catalyst backfill twin with a
  DuckDB oracle among the gate queries.
- near-dup candidate funnels, a stream op and a batch twin per
  modality: text (:func:`near_dup_candidates_stream`, minhash bands),
  embeddings (hyperplane sign bits), media (dHash / audio-fingerprint
  chunk combinations) and video (frame dHashes). Each LSH bucket keeps
  one canonical member; every later member pairs with it.
- tumbling-window sketches: :func:`hll_window_stream` (distinct
  counts) and :func:`quantile_window_stream`, one bounded sketch per
  open (group, window), emitted once when the window closes and
  bit-identical to the batch twins in operators.sketches.

Every op after ``running_counts`` defaults to EVENT-TIME timeouts
(watermark-driven): replaying historical crawl data — the dominant
real workload — must evict at the same data-time points every run;
wall-clock (processing-time) timers remain available via
``time_mode="processing"`` for live 24/7 ingest.

Those ops are thin callers of four shared pieces:
:func:`_stream_prologue` (reject a batch frame, check ``time_mode``,
set the watermark), :func:`_launch` (append-mode
``applyInPandasWithState`` with the timeout in the configured time
domain), the near-dup funnel (:func:`_bucket_candidates_batch` and
:func:`_bucket_candidates_stream`, which take a modality's banding
function) and the window fold (:func:`_window_fold_stream`, which
takes a ``(fold, close)`` pair).

Scale notes (100 TB/day stream): state is one tiny tuple per active
key, hash-partitioned by the group key — the layout RocksDB state
stores shard; timeouts bound state for keys that disappear. Group
keys and state schemas live in checkpoints, so they must not change:
tests/fixtures/stream_v1 resumes a checkpoint of every op.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

RUNNING_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("max_value", T.DoubleType(), True),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType(), False),
        T.StructField("mx", T.DoubleType(), True),
    ]
)


def dedup_stream(
    stream: DataFrame, key_col: str = "url", ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """First-occurrence dedup with bounded state: duplicates arriving
    within the watermark horizon are dropped; state for keys older than
    the watermark is evicted (the only way dedup state stays finite on
    an endless crawl)."""
    if not stream.isStreaming:
        raise ValueError("dedup_stream expects a streaming DataFrame")
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [key_col]
    )


def _update_counts(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        state.remove()
        return
    n, mx = state.get if state.exists else (0, None)
    for pdf in pdfs:
        n += len(pdf)
        batch_max = pdf["value"].max() if len(pdf) else None
        if batch_max is not None:
            mx = float(batch_max) if mx is None else max(mx, float(batch_max))
    state.update((n, mx))
    state.setTimeoutDuration(60 * 60 * 1000)  # evict idle keys after 1 h
    yield pd.DataFrame({"key": [key[0]], "n_events": [n], "max_value": [mx]})


def running_counts(
    stream: DataFrame, key_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    """Per-key running (count, max) over an unbounded stream —
    applyInPandasWithState with processing-time timeouts.

    Emits one updated row per key per micro-batch (update mode)."""
    if not stream.isStreaming:
        raise ValueError("running_counts expects a streaming DataFrame")
    keyed = stream.selectExpr(
        f"CAST({key_col} AS STRING) AS key", f"CAST({value_col} AS DOUBLE) AS value"
    )
    return keyed.groupBy("key").applyInPandasWithState(
        _update_counts,
        outputStructType=RUNNING_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


VISIT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("cell", T.LongType()),
        T.StructField("enter_ts", T.TimestampType()),
        T.StructField("exit_ts", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

_VISIT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cell", T.LongType()),
        T.StructField("enter_ts", T.TimestampType()),
        T.StructField("last_ts", T.TimestampType()),
        T.StructField("n", T.LongType()),
    ]
)


def cell_visits_batch(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    cell_col: str = "cell",
    order_col: str = "event_id",
) -> DataFrame:
    """Batch twin: visits via lag() change detection + cumsum visit ids.

    Deterministic: events are ordered by (ts, order_col) within each
    entity, so duplicate timestamps cannot flip run boundaries.
    """
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(order_col))
    prev = F.lag(F.col(cell_col)).over(w)
    change = F.when(prev.isNull() | (prev != F.col(cell_col)), 1).otherwise(0)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vid = F.sum(change).over(wrun)
    return (
        events.withColumn("__vid", vid)
        .groupBy(F.col(user_col).alias("user_id"), F.col("__vid"))
        .agg(
            F.first(F.col(cell_col)).alias("cell"),
            F.min(ts_col).alias("enter_ts"),
            F.max(ts_col).alias("exit_ts"),
            F.count("*").alias("n_events"),
        )
        .drop("__vid")
        .select("user_id", "cell", "enter_ts", "exit_ts", "n_events")
    )


# ----------------------------------------------- shared stateful pieces

_SEP = "\x1f"


def _epoch_ms(ts) -> int:
    """Naive-UTC pandas Timestamp → epoch milliseconds (session tz is
    pinned to UTC by get_spark, so naive values ARE UTC instants)."""
    return int(pd.Timestamp(ts).value // 1_000_000)


def _arm_timeout(
    state: GroupState, time_mode: str, timeout_ms: int, last_event_ms: int
) -> None:
    """Arm the idle-eviction timer in the configured time domain.

    event: fires when the WATERMARK passes last_event + timeout —
    deterministic with respect to data time, so replaying a historical
    crawl evicts at the same points every run regardless of wall-clock
    speed (the production-correct mode for backfill/replay). The
    timestamp must sit strictly above the current watermark or Spark
    rejects it — a late-but-within-watermark batch can otherwise
    compute last_event + timeout in the past.

    processing: fires timeout_ms of WALL CLOCK after the last batch
    that touched the key — the right domain for a live 24/7 ingest
    where data time tracks wall time anyway (kept as an option).
    """
    if time_mode == "event":
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last_event_ms + timeout_ms, wm + 1))
    else:
        state.setTimeoutDuration(timeout_ms)


def _now_ms(state: GroupState, time_mode: str) -> int:
    """"Now" in the configured time domain: the watermark in event
    mode, the wall clock in processing mode."""
    if time_mode == "event":
        return state.getCurrentWatermarkMs()
    return int(time.time() * 1000)


def _stream_prologue(
    stream: DataFrame, op: str, use: str, time_mode: str, ts_col: str,
    watermark: str | None,
) -> DataFrame:
    """Entry checks of every event-time stateful op: reject a batch
    frame (``use`` names the batch twin) and validate ``time_mode``,
    then in event mode watermark ``ts_col`` unless the caller already
    set one (``watermark=None``)."""
    if not stream.isStreaming:
        raise ValueError(f"{op} expects a streaming DataFrame; use {use}")
    if time_mode not in ("event", "processing"):
        raise ValueError(f"time_mode must be 'event' or 'processing', "
                         f"got {time_mode!r}")
    if time_mode == "event" and watermark is not None:
        stream = stream.withWatermark(ts_col, watermark)
    return stream


def _launch(
    df: DataFrame, keys: list[str], fn: Callable[..., Iterator[pd.DataFrame]],
    out_schema: T.StructType, state_schema: T.StructType, time_mode: str,
) -> DataFrame:
    """``applyInPandasWithState`` in append mode, grouped by ``keys``,
    with its timeout in the configured time domain."""
    timeout_conf = (
        GroupStateTimeout.EventTimeTimeout
        if time_mode == "event"
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return df.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def cell_visits_stateful(
    stream: DataFrame,
    timeout_ms: int = 600_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
    cell_col: str = "cell",
    order_col: str = "event_id",
    time_mode: str = "event",
    watermark: str | None = "10 minutes",
    shards: int | None = None,
) -> DataFrame:
    """Structured Streaming cell visits via ``applyInPandasWithState``.

    State per entity = its OPEN visit; a new cell closes the previous
    visit (emitted), an idle timeout of ``timeout_ms`` closes idle
    visits. Output rows are CLOSED visits only (append mode) —
    exactly-once per visit under the normal micro-batch guarantees.

    ``time_mode="event"`` (default) evicts when the *watermark* passes
    ``last event + timeout_ms`` — replaying historical events yields
    the same visits every run, because eviction points live in data
    time (see :func:`_arm_timeout`). ``watermark`` is applied to
    ``ts_col`` here unless the caller already set one (pass ``None``).
    ``time_mode="processing"`` keeps the wall-clock timer for live
    ingest.

    ``shards``: key the state op by ``hash(user) % shards`` with a
    per-shard user→open-visit map instead of one group per user. The
    Python/Arrow harness charges ~1-2 ms PER GROUP PER BATCH (CLAUDE.md
    rule 9), so per-user keying is right only while the per-batch
    active-entity count stays small; at crawl scale (10⁵-10⁷ entities
    per batch) pass shards≈1024 — same visits, bounded Python calls.
    Idle visits are then pruned inside the map (emitted at the shard's
    next invocation or its whole-shard timeout), so eviction stays
    deterministic in the configured time domain; only the EMISSION
    batch of a timed-out visit can differ from per-user keying.

    Within a micro-batch rows are sorted by event time; cross-batch
    reordering is bounded by the watermark.
    """
    stream = _stream_prologue(
        stream, "cell_visits_stateful", "cell_visits_batch for batch backfill",
        time_mode, ts_col, watermark,
    )
    if shards is not None:
        return _cell_visits_sharded(
            stream, timeout_ms, user_col, ts_col, cell_col, order_col,
            time_mode, shards,
        )

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (uid,) = key
        cols = ["user_id", "cell", "enter_ts", "exit_ts", "n_events"]
        if state.hasTimedOut:
            cell, enter, last, n = state.get
            state.remove()
            yield pd.DataFrame([(uid, cell, enter, last, n)], columns=cols)
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        # same (ts, order_col) total order as cell_visits_batch —
        # pandas' default quicksort is unstable, so ts alone would make
        # visit boundaries nondeterministic on duplicate timestamps
        rows = rows.sort_values([ts_col, order_col]).reset_index(drop=True)
        cur = list(state.get) if state.exists else None
        closed: list[tuple] = []
        for r in rows.itertuples():
            cell = int(getattr(r, cell_col))
            ts = getattr(r, ts_col)
            if cur is None:
                cur = [cell, ts, ts, 1]
            elif cell == cur[0]:
                # min/max, not overwrite: a late-but-above-watermark
                # same-cell row in a later batch must not move the
                # visit's enter forward or exit backward — the batch
                # twin's min(ts)/max(ts) over the run is order-blind
                cur[1] = min(cur[1], ts)
                cur[2], cur[3] = max(cur[2], ts), cur[3] + 1
            else:
                closed.append((uid, cur[0], cur[1], cur[2], cur[3]))
                cur = [cell, ts, ts, 1]
        state.update(tuple(cur))
        _arm_timeout(state, time_mode, timeout_ms, _epoch_ms(cur[2]))
        yield pd.DataFrame(closed, columns=cols)

    return _launch(stream, [user_col], fn, VISIT_SCHEMA, _VISIT_STATE_SCHEMA,
                   time_mode)


_VISIT_SHARD_STATE_SCHEMA = T.StructType(
    [
        # user → "cell\x1Fenter_us\x1Flast_us\x1Fn\x1Ftouch_ms": the
        # open visit plus its prune timestamp (event ms in event mode,
        # wall ms of the last touching batch in processing mode — the
        # clock-consistency rule from the near-dup shard map)
        T.StructField(
            "visits", T.MapType(T.StringType(), T.StringType()), False
        ),
    ]
)


def _cell_visits_sharded(
    stream: DataFrame,
    timeout_ms: int,
    user_col: str,
    ts_col: str,
    cell_col: str,
    order_col: str,
    time_mode: str,
    shards: int,
) -> DataFrame:
    """Shard-keyed variant of :func:`cell_visits_stateful` (see its
    docstring for when): one state group per shard, open visits in a
    user→encoded-visit map, per-user idle pruning inside the map."""
    keyed = stream.withColumn(
        "__shard", F.pmod(F.xxhash64(F.col(user_col)), F.lit(shards))
    )
    cols = ["user_id", "cell", "enter_ts", "exit_ts", "n_events"]

    def decode_row(uid: str, v: str) -> tuple:
        cell, enter_us, last_us, n, _touch = v.rsplit(_SEP, 4)
        return (
            int(uid), int(cell),
            pd.Timestamp(int(enter_us), unit="us"),
            pd.Timestamp(int(last_us), unit="us"),
            int(n),
        )

    def prune(visits: dict, now_ms: int,
              touched: set | None = None) -> list[tuple]:
        # STRICT < to match Spark's own timers (they fire when the
        # watermark advances BEYOND the set timestamp), and never a
        # user with data in this batch — per-user keying only evicts a
        # group in a batch where it has NO data, and the sharded form
        # must emit the exact same visit rows (only the batch they
        # appear in may differ)
        closed: list[tuple] = []
        if now_ms > 0 and visits:
            for u, v in list(visits.items()):
                if touched is not None and u in touched:
                    continue
                if int(v.rsplit(_SEP, 1)[1]) + timeout_ms < now_ms:
                    closed.append(decode_row(u, v))
                    del visits[u]
        return sorted(closed)

    def rearm(state: GroupState, visits: dict) -> None:
        # EARLIEST deadline among open visits, not the latest: a shard
        # can hold one active user and many idle ones — arming at the
        # max touch would let the active user postpone every idle
        # visit's eviction until the shard's next data batch, which
        # may never come. The timeout handler prunes what expired and
        # re-arms for the next-oldest visit.
        if time_mode != "event":
            state.setTimeoutDuration(timeout_ms)
            return
        wm = state.getCurrentWatermarkMs()
        deadline = min(
            int(v.rsplit(_SEP, 1)[1]) for v in visits.values()
        ) + timeout_ms
        state.setTimeoutTimestamp(max(deadline, wm + 1))

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            (visits,) = state.get
            visits = dict(visits)
            closed = prune(visits, _now_ms(state, time_mode))
            if visits:
                state.update((visits,))
                rearm(state, visits)
            else:
                state.remove()
            yield pd.DataFrame(closed, columns=cols)
            return
        (visits,) = state.get if state.exists else ({},)
        visits = dict(visits)
        now_ms = _now_ms(state, time_mode)
        rows = pd.concat(list(pdfs), ignore_index=True)
        # same (ts, order_col) total order as cell_visits_batch; run
        # logic is per-user, so globally ordered rows update each
        # user's open visit in that user's own event order
        rows = rows.sort_values([ts_col, order_col]).reset_index(drop=True)
        closed: list[tuple] = []
        touched: set = set()
        for r in rows.itertuples():
            uid = str(getattr(r, user_col))
            touched.add(uid)
            cell = int(getattr(r, cell_col))
            ts_us = int(pd.Timestamp(getattr(r, ts_col)).value // 1_000)
            touch = ts_us // 1000 if time_mode == "event" else now_ms
            cur = visits.get(uid)
            if cur is not None:
                ccell, enter_us, last_us, n, t2 = cur.rsplit(_SEP, 4)
                if int(ccell) == cell:
                    # min/max against the stored values: a late row
                    # must not move the visit's enter forward, its
                    # exit backward, or rewind the idle clock (touch)
                    # — the batch twin's min(ts)/max(ts) over the run
                    # is order-blind (cross-batch determinism; same
                    # rule as _bucket_candidates_stream)
                    visits[uid] = _SEP.join(
                        (ccell, str(min(ts_us, int(enter_us))),
                         str(max(ts_us, int(last_us))),
                         str(int(n) + 1), str(max(touch, int(t2))))
                    )
                    continue
                closed.append(decode_row(uid, cur))
            visits[uid] = _SEP.join(
                (str(cell), str(ts_us), str(ts_us), "1", str(touch))
            )
        # idle eviction AFTER applying rows, untouched users only —
        # applying first is what keeps the emitted VISIT ROWS identical
        # to per-user keying: a user whose timer expired but whose next
        # event shares this batch EXTENDS the visit there (hasTimedOut
        # never fires for a group with data), so the sharded form must
        # not close it either
        closed += prune(visits, now_ms, touched)
        state.update((visits,))
        rearm(state, visits)
        yield pd.DataFrame(closed, columns=cols)

    return _launch(keyed, ["__shard"], fn, VISIT_SCHEMA,
                   _VISIT_SHARD_STATE_SCHEMA, time_mode)


# ------------------------------------- streaming near-dup candidates

CANDIDATE_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.StringType(), False),  # bucket canonical
        T.StructField("id_b", T.StringType(), False),  # later arrival
        T.StructField("band", T.IntegerType(), False),
    ]
)
# Shard state: every LSH bucket under the shard maps to ONE encoded
# "canonical\x1fn_seen\x1flast_ms" string. Keying the stateful op by a
# bounded SHARD of the bucket-key space (not by raw bucket) is what
# makes the operator fast: applyInPandasWithState pays ~1-2 ms of
# Python/Arrow harness cost PER GROUP PER BATCH, and raw bucket keying
# creates docs×bands near-singleton groups (measured: 4k docs/batch →
# 64k groups → ~3 min/batch; 1024 shards → seconds). Per-bucket
# eviction moves INSIDE the shard map (pruned against the watermark on
# every invocation), which is data-time deterministic like the old
# per-bucket timers — and stricter: a bucket whose idle gap exceeded
# the timeout is pruned even when its next member arrives in the same
# batch, exactly what replay determinism wants.
_SHARD_STATE_SCHEMA = T.StructType(
    [
        T.StructField(
            "buckets", T.MapType(T.StringType(), T.StringType()), False
        ),
        T.StructField("last_ms", T.LongType(), False),  # max over buckets
    ]
)


def _key_cols(
    id_col: str, ts_col: str | None
) -> tuple[list[Column], list[str]]:
    """The ``did[, ts]`` projection every banding keeps (the id as a
    string, the event time when there is one) and its column names."""
    keep = [F.col(id_col).cast("string").alias("did")]
    if ts_col is None:
        return keep, ["did"]
    return [*keep, F.col(ts_col).alias("ts")], ["did", "ts"]


def _bucket_candidates_batch(
    df: DataFrame, band: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """Batch side of the near-dup funnel: ``band`` turns ``df`` into
    (did[, ts], band, key) rows; per (band, key) bucket the canonical
    member is the first by (ts, id) and every other member pairs with
    it. Output (id_a, id_b, band), id_a = canonical."""
    banded = band(df)
    order = ([F.col("ts").asc()] if "ts" in banded.columns else []) + [
        F.col("did").asc()
    ]
    w = Window.partitionBy("band", "key").orderBy(*order)
    return (
        banded.withColumn("__canon", F.first("did").over(w))
        .filter(F.col("did") != F.col("__canon"))
        .select(
            F.col("__canon").alias("id_a"),
            F.col("did").alias("id_b"),
            F.col("band").cast(T.IntegerType()).alias("band"),
        )
    )


def _bucket_candidates_stream(
    op: str, stream: DataFrame, ts_col: str, timeout_ms: int, time_mode: str,
    watermark: str | None, shards: int, band: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Stream side of the near-dup funnel, the sharded candidate
    machinery of all four modality streams: after the prologue,
    ``band`` turns the stream into (did string, ts timestamp, band int,
    key) rows; each (band, key) bucket's state is one encoded
    (canonical, n_seen, last_ms) tuple inside its shard's map."""
    stream = _stream_prologue(
        stream, op, f"{op.replace('_stream', '_batch')} for batch backfill",
        time_mode, ts_col, watermark,
    )
    banded = band(stream).withColumn(
        "shard", F.pmod(F.xxhash64("band", "key"), F.lit(shards))
    )

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        buckets, shard_last = state.get if state.exists else ({}, 0)
        buckets = dict(buckets)
        # per-bucket eviction, in the configured time domain, BEFORE
        # applying this batch's rows: a bucket whose idle gap already
        # exceeded the timeout must not pair with the new arrival.
        # CLOCK CONSISTENCY: the stored per-bucket timestamp and the
        # "now" it is pruned against must live in the SAME domain —
        # event mode stores event time and prunes at the watermark;
        # processing mode stores the WALL time of the last batch that
        # touched the bucket and prunes at the wall clock (storing
        # event time there would evict every bucket of a replayed
        # historical stream on its second batch).
        now_ms = _now_ms(state, time_mode)
        if now_ms > 0 and buckets:
            # keep while last+timeout >= now — the same strict-after
            # deadline as _cell_visits_sharded's prune() and Spark's
            # own event-time timers (which fire only once the
            # watermark advances BEYOND the set timestamp)
            buckets = {
                bk: v
                for bk, v in buckets.items()
                if int(v.rsplit(_SEP, 1)[1]) + timeout_ms >= now_ms
            }
        rows = pd.concat(list(pdfs), ignore_index=True)
        # same (ts, id) total order as the batch twin — deterministic
        # canonical selection within a micro-batch
        rows = rows.sort_values(["ts", "did"]).reset_index(drop=True)
        out: list[tuple] = []
        for r in rows.itertuples():
            did = r.did
            bk = f"{int(r.band)}{_SEP}{r.key}"
            ms = _epoch_ms(r.ts) if time_mode == "event" else now_ms
            shard_last = max(shard_last, ms)
            cur = buckets.get(bk)
            if cur is None:
                buckets[bk] = f"{did}{_SEP}1{_SEP}{ms}"
                continue
            # rsplit from the RIGHT: n/ms are always the two numeric
            # tail fields, so a doc id containing the separator byte
            # can never shift the parse (split() would crash on it)
            canon, n, last = cur.rsplit(_SEP, 2)
            if did != canon:
                out.append((canon, did, int(r.band)))
            # never move the bucket's last-arrival BACKWARD: a
            # late-but-above-watermark row in a later micro-batch
            # carries an older event ts than the stored last_ms, and
            # re-encoding with it would make the eviction point depend
            # on micro-batch boundaries (replays that batch differently
            # would evict differently)
            buckets[bk] = f"{canon}{_SEP}{int(n) + 1}{_SEP}{max(ms, int(last))}"
        state.update((buckets, shard_last))
        # shard-level timer: fires only once EVERY bucket has been idle
        # past the timeout (per-bucket pruning above handles the rest)
        _arm_timeout(state, time_mode, timeout_ms, shard_last)
        yield pd.DataFrame(out, columns=["id_a", "id_b", "band"])

    return _launch(banded, ["shard"], fn, CANDIDATE_SCHEMA,
                   _SHARD_STATE_SCHEMA, time_mode)


def _banded_docs(
    docs: DataFrame, id_col: str, text_col: str, ts_col: str | None,
    num_hashes: int, bands: int,
) -> DataFrame:
    """(band, key, did[, ts]) rows: minhash LSH banding as pure Column
    expressions through operators.dedup.md5_band_keys — the key the
    persisted LSH index stores — reusable on batch AND streaming
    frames. Project-then-explode per CLAUDE.md rule 1."""
    from ..operators.dedup import md5_band_keys, minhash_signature

    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    keep, out_cols = _key_cols(id_col, ts_col)
    # The repartition spreads the banding and everything after it over
    # every core when the input arrives as one split (a small batch
    # frame, a file-stream micro-batch). It no longer guards the
    # signature: md5_band_keys let-binds it, so the band lambda reads a
    # lambda variable and the minhash is evaluated once per row even
    # where CollapseProject merges the two projections (without the
    # binding that merge recomputed it bands× per row: 9.4 s vs 1.5 s
    # on 2k docs). Rows crossing it are (did[, ts], 32-long array).
    par = docs.sparkSession.sparkContext.defaultParallelism
    sig = docs.select(
        *keep, minhash_signature(text_col, num_hashes).alias("__sig")
    ).repartition(par, "did")
    return (
        sig.withColumn("__bands", md5_band_keys("__sig", num_hashes, bands))
        .select(*out_cols, F.explode("__bands").alias("__b"))
        .select("*", F.col("__b.band").alias("band"), F.col("__b.key").alias("key"))
        .drop("__b")
    )


def near_dup_candidates_batch(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str | None = None,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """Batch twin of :func:`near_dup_candidates_stream`: per LSH bucket
    the canonical doc is the first by (ts, id) — every other member
    pairs with it. Output (id_a, id_b, band), id_a = canonical."""
    return _bucket_candidates_batch(docs, lambda df: _banded_docs(
        df, id_col, text_col, ts_col, num_hashes, bands))


def near_dup_candidates_stream(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    num_hashes: int = 32,
    bands: int = 16,
    timeout_ms: int = 3_600_000,
    time_mode: str = "event",
    watermark: str | None = "10 minutes",
    shards: int = 1024,
) -> DataFrame:
    """Streaming near-duplicate CANDIDATE detection: minhash-LSH
    banding (pure Column expressions, JVM-side) feeds
    ``applyInPandasWithState`` keyed by ``hash(band, key) % shards``;
    each shard's state maps its active LSH buckets to ONE encoded
    (canonical, n_seen, last_ms) tuple, so every later arrival in a
    bucket emits (canonical, id, band) immediately and total state
    stays O(active buckets) regardless of stream length.

    Why shards and not raw (band, key) groups: the Python/Arrow
    harness charges ~1-2 ms PER GROUP PER BATCH, and bucket-level
    keying creates docs×bands near-singleton groups (measured: ~3 min
    a micro-batch at 4k docs/batch); ``shards`` bounds the per-batch
    Python calls while the in-state map keeps per-bucket semantics
    identical.

    Idle buckets are pruned once the watermark (event mode, default)
    passes ``last arrival + timeout_ms`` — the state bound for an
    endless crawl; a re-arriving near-dup after eviction starts a new
    bucket, trading recall for bounded state exactly like the batch
    df-caps (measured curve: scripts/bench_stream_recall.py). Eviction
    points live in DATA time, so a replayed crawl evicts identically
    every run. ``time_mode="processing"`` prunes against the wall
    clock instead (live 24/7 ingest). A shard whose every bucket has
    gone idle times out and is removed whole.

    Exact-jaccard verification of the candidates happens downstream in
    batch (operators.dedup) — the stream's job is the bounded-state
    candidate funnel.

    CHECKPOINT COMPATIBILITY: the r4 sharding changed both the group
    key (shard vs (band, key)) and the state schema (map vs tuple) —
    a checkpoint written by the pre-shard operator cannot be resumed
    by this one (Spark's state-store schema validation rejects it at
    start). Drain or finish old queries on the old code; start new
    checkpoints here.
    """
    return _bucket_candidates_stream(
        "near_dup_candidates_stream", stream, ts_col, timeout_ms, time_mode,
        watermark, shards,
        lambda df: _banded_docs(
            df, id_col, text_col, ts_col, num_hashes, bands),
    )


# --------------------------------- streaming EMBEDDING near-dup

def _banded_vecs(
    df: DataFrame, id_col: str, vec_col: str, ts_col: str | None,
    bands: int, bits_per_band: int, dim: int, seed: int,
) -> DataFrame:
    """(band, key, did[, ts]) rows via hyperplane sign-bit banding —
    the SAME signature family as operators.similarity's
    embedding_near_dup_pairs (lsh_band_keys_udf: one numpy matmul per
    Arrow batch, each band packing its own sign bits), reusable on
    batch AND streaming frames. The keys column is a UDF output
    (ArrowEvalPython is its own operator node), so the posexplode
    consumes a real column — no CollapseProject/HOF inlining risk."""
    from ..operators.similarity import lsh_band_keys_udf

    keys_udf = lsh_band_keys_udf(dim, bands, bits_per_band, seed)
    keep, out_cols = _key_cols(id_col, ts_col)
    sig = df.select(*keep, keys_udf(F.col(vec_col)).alias("__keys"))
    return sig.select(
        *out_cols, F.posexplode("__keys").alias("band", "key")
    )


def near_dup_embedding_batch(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ts_col: str | None = None,
    bands: int = 8,
    bits_per_band: int = 12,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Batch twin of :func:`near_dup_embedding_stream`: per hyperplane
    LSH bucket the canonical vector is the first by (ts, id) — every
    other member pairs with it. Output (id_a, id_b, band), id_a =
    canonical. Cosine verification of the candidates happens
    downstream (operators.similarity), exactly like the text family.
    """
    from ..operators.similarity import vector_dim

    if dim is None:
        dim = vector_dim(vecs, vec_col)
    return _bucket_candidates_batch(vecs, lambda df: _banded_vecs(
        df, id_col, vec_col, ts_col, bands, bits_per_band, dim, seed))


def near_dup_embedding_stream(
    stream: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ts_col: str = "ts",
    bands: int = 8,
    bits_per_band: int = 12,
    seed: int = 42,
    timeout_ms: int = 3_600_000,
    time_mode: str = "event",
    watermark: str | None = "10 minutes",
    shards: int = 1024,
) -> DataFrame:
    """Streaming near-duplicate candidates for the EMBEDDING modality:
    hyperplane sign-bit banding (one Arrow matmul per batch) feeds the
    same sharded bounded-state machinery as the text stream
    (:func:`_bucket_candidates_stream` — see
    :func:`near_dup_candidates_stream` for the state/eviction
    semantics, which are identical). ``dim`` is required here: a
    streaming frame cannot be sampled for the vector width.

    Together with the text stream this closes the near-dup funnel for
    a mixed-modality crawl: every incoming page/image embedding can be
    checked against the recent-horizon corpus with O(active buckets)
    state; exact cosine verification of the candidate pairs happens
    downstream in batch (operators.similarity).

    SIZE ``bits_per_band`` TO THE CORPUS: each bucket keeps ONE
    canonical doc, and an unrelated doc claims a true pair's bucket at
    rate ≈ n_active/2^bits per band — the (canon, x) links it emits
    instead then fail downstream cosine verification, silently costing
    recall (measured: 12 bits at 20k docs lost 55% of embedding-only
    planted pairs end-to-end; 20 bits recovered them —
    scripts/demo_mixed_dedup.py). Rule of thumb: 2^bits ≥ ~50× the
    active-horizon doc count. Wider bands cost nothing but band-key
    bytes; the 12-bit default matches the BATCH twin's gate fixture,
    not a production corpus.
    """
    return _bucket_candidates_stream(
        "near_dup_embedding_stream", stream, ts_col, timeout_ms, time_mode,
        watermark, shards,
        lambda df: _banded_vecs(
            df, id_col, vec_col, ts_col, bands, bits_per_band, dim, seed),
    )


# --------------------------------- streaming MEDIA near-dup

def _banded_media(
    df: DataFrame, kind: str, id_col: str, payload_col: str,
    ts_col: str | None, chunks: int, band_chunks: int, frame_samples: int,
) -> DataFrame:
    """(did[, ts], band, key) rows via perceptual-signature chunk-
    combination banding — the SAME signature kernels and band keys as
    operators.media_dedup's batch pairing (media_signature_udf +
    _banded), reusable on batch AND streaming frames. The signature is
    a UDF output column (ArrowEvalPython is its own operator node), so
    the downstream shift/pack expressions consume a real column — no
    CollapseProject/HOF-inlining risk. Rows whose payload does not
    decode (or is below the hash grid / 2 frames) band to nothing."""
    from ..operators.media_dedup import _banded, media_signature_udf

    sig_udf = media_signature_udf(kind, frame_samples)
    src = df.filter(F.col("kind") == kind) if "kind" in df.columns else df
    keep, out_cols = _key_cols(id_col, ts_col)
    sig = src.select(*keep, sig_udf(F.col(payload_col)).alias("__sig")).filter(
        F.col("__sig").isNotNull()
    )
    return _banded(sig, chunks, band_chunks).select(
        *out_cols,
        F.col("__b.idx").alias("band"),
        F.col("__b.val").alias("key"),
    )


def near_dup_media_batch(
    media: DataFrame,
    kind: str = "image",
    id_col: str = "media_id",
    payload_col: str = "payload",
    ts_col: str | None = None,
    chunks: int = 8,
    band_chunks: int = 2,
    frame_samples: int = 256,
) -> DataFrame:
    """Batch twin of :func:`near_dup_media_stream`: per chunk-
    combination band bucket the canonical media row is the first by
    (ts, id) — every other member pairs with it. Output (id_a, id_b,
    band), id_a = canonical."""
    return _bucket_candidates_batch(media, lambda df: _banded_media(
        df, kind, id_col, payload_col, ts_col, chunks, band_chunks,
        frame_samples))


def near_dup_media_stream(
    stream: DataFrame,
    kind: str = "image",
    id_col: str = "media_id",
    payload_col: str = "payload",
    ts_col: str = "ts",
    chunks: int = 8,
    band_chunks: int = 2,
    frame_samples: int = 256,
    timeout_ms: int = 3_600_000,
    time_mode: str = "event",
    watermark: str | None = "10 minutes",
    shards: int = 1024,
) -> DataFrame:
    """Streaming near-duplicate candidates for the MEDIA modality:
    integer dHash / audio-fingerprint chunk-combination banding
    (operators.media_dedup kernels, one Arrow pass per batch) feeds
    the same sharded bounded-state machinery as the text and embedding
    streams (:func:`_bucket_candidates_stream` — see
    :func:`near_dup_candidates_stream` for the state/eviction
    semantics, which are identical). With the text and embedding
    funnels this completes the near-dup stream for every modality of
    a mixed crawl.

    A candidate pair shares ≥1 exact band; the pigeonhole bound means
    every pair within Hamming ≤ chunks − band_chunks of the ACTIVE
    horizon shares one, so funnel recall mirrors the batch operator's
    guarantee (minus eviction, measured for the text stream in
    scripts/bench_stream_recall.py — the machinery and trade curve
    are shared). Exact Hamming verification happens downstream in
    batch (operators.media_dedup.hamming_pairs), like jaccard for
    text and cosine for embeddings.

    SIZE THE BAND KEY SPACE TO THE ACTIVE HORIZON, not the stream
    length: each bucket keeps ONE canonical, so 2^(band_chunks·bits)
    should exceed ~50× the docs alive inside ``timeout_ms`` (the
    corpus-sized-bucket rule). The (8, 2) default's 16-bit keys cover
    horizons to ~1M media rows; use (4, 2) (32-bit keys, verify at
    Hamming ≤ 2) beyond."""
    return _bucket_candidates_stream(
        "near_dup_media_stream", stream, ts_col, timeout_ms, time_mode,
        watermark, shards,
        lambda df: _banded_media(
            df, kind, id_col, payload_col, ts_col, chunks, band_chunks,
            frame_samples),
    )


# --------------------------------- streaming VIDEO near-dup

def _banded_video(
    df: DataFrame, id_col: str, payload_col: str,
    ts_col: str | None, every_k: int,
) -> DataFrame:
    """(did[, ts], band, key) rows for the VIDEO modality: the clip's
    DISTINCT frame dHashes ARE the band keys (band ≡ 0) — two clips
    sharing any physical frame share a bucket, exactly the doc→band
    structure the text stream has with minhash bands (frame hashes as
    the shingles). Real AVI decode per row via one Arrow UDF column
    (operators.video.video_frame_dhash_udf), then posexplode of the
    REAL array column (rule-1 safe: ArrowEvalPython materializes it)."""
    from ..operators.video import video_frame_dhash_udf

    sig_udf = video_frame_dhash_udf(every_k)
    src = df.filter(F.col("kind") == "video") if "kind" in df.columns else df
    keep, out_cols = _key_cols(id_col, ts_col)
    sig = src.select(*keep, sig_udf(F.col(payload_col)).alias("__fh")).filter(
        F.col("__fh").isNotNull()
    )
    return sig.select(
        *out_cols, F.posexplode("__fh").alias("__i", "key")
    ).select(*out_cols, F.lit(0).alias("band"), "key")


def near_dup_video_batch(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    ts_col: str | None = None,
    every_k: int = 1,
) -> DataFrame:
    """Batch twin of :func:`near_dup_video_stream`: per frame-hash
    bucket the canonical clip is the first by (ts, id) — every other
    clip sharing that frame pairs with it. Output (id_a, id_b, band),
    id_a = canonical, band ≡ 0 — one row per shared bucket, like the
    stream (a pair sharing k frames appears k times; downstream
    verify dedups, so neither side pays a distinct exchange here)."""
    return _bucket_candidates_batch(media, lambda df: _banded_video(
        df, id_col, payload_col, ts_col, every_k))


def near_dup_video_stream(
    stream: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    ts_col: str = "ts",
    every_k: int = 1,
    timeout_ms: int = 3_600_000,
    time_mode: str = "event",
    watermark: str | None = "10 minutes",
    shards: int = 1024,
) -> DataFrame:
    """Streaming near-duplicate candidates for the VIDEO modality:
    per-frame integer dHashes (real AVI decode, operators/video.py)
    feed the same sharded bounded-state machinery as the text /
    embedding / image-audio streams — the frame hash plays the
    shingle's role, so clips that share ANY sampled frame with the
    ACTIVE canonical become candidates regardless of trims or
    re-ordering (set semantics, like the batch operator's frame-set
    jaccard). Exact verification happens downstream in batch
    (operators.video.video_near_dup_pairs_from_hashes) from committed
    frame-hash snapshots. A clip emits one candidate row per SHARED
    frame hash bucket; downstream verify dedups, exactly like the
    text stream's multi-band hits.

    Blank/test-card frames are the stop-words of this keying: at a
    real crawl scale pair it with the batch-side ``max_df`` counters
    (operators.video.video_hot_frame_hashes) and keep the bucket
    timeout matched to the active horizon. State is O(active frame
    hashes), sharded; eviction semantics identical to
    :func:`near_dup_candidates_stream`."""
    return _bucket_candidates_stream(
        "near_dup_video_stream", stream, ts_col, timeout_ms, time_mode,
        watermark, shards,
        lambda df: _banded_video(
            df, id_col, payload_col, ts_col, every_k),
    )


# ------------------------------------------------ tumbling-window fold


def _window_rows(
    stream: DataFrame, group_col: str, value_col: str, ts_col: str,
    window_seconds: int, *cols: Column,
) -> DataFrame:
    """(grp, ws_s, *cols, __ts) rows for the non-null values: the group
    as a string, the tumbling window's start in epoch seconds, and the
    watermarked column, which the state op must keep carrying."""
    from ..operators import sketches

    if window_seconds <= 0:
        raise ValueError("window_seconds must be positive")
    ws = (
        F.floor(
            sketches._epoch_seconds(stream, ts_col) / F.lit(window_seconds)
        )
        * F.lit(window_seconds)
    ).cast(T.LongType())
    return stream.where(F.col(value_col).isNotNull()).select(
        F.col(group_col).cast(T.StringType()).alias("grp"),
        ws.alias("ws_s"),
        *cols,
        F.col(ts_col).alias("__ts"),
    )


def _window_fold_stream(
    pre: DataFrame, window_seconds: int, grace_ms: int, time_mode: str,
    out_schema: T.StructType, state_schema: T.StructType,
    fold: Callable[[bytes | None, Iterator[pd.DataFrame]], bytes],
    close: Callable[[str, int, bytes], tuple],
) -> DataFrame:
    """The window sketches' state op over :func:`_window_rows` output:
    per (grp, ws_s) the state is one binary sketch. ``fold(buf, pdfs)``
    merges a micro-batch into it (``buf`` is None for a new window);
    ``close(grp, ws_s, buf)`` turns it into the window's one output row
    once the time domain passes the window end (+ ``grace_ms``)."""
    out_cols = out_schema.fieldNames()

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        grp, ws_s = key
        ws_s = int(ws_s)  # numpy int64 breaks GroupState's JSON layer
        # LATE-ROW GUARD: applyInPandasWithState does NOT drop
        # below-watermark rows itself — without this, a row arriving
        # after its window was closed re-creates the key with fresh
        # state and emits a DUPLICATE partial sketch (observed: 867
        # emissions for 477 windows on an out-of-order replay).
        # Matching Spark's own windowed-agg semantics: once the
        # watermark passes the window end (+ grace), its rows drop.
        if (
            time_mode == "event"
            and not state.exists
            and not state.hasTimedOut
            and state.getCurrentWatermarkMs()
            >= (ws_s + window_seconds) * 1000 + grace_ms
        ):
            for _ in pdfs:
                pass  # drain the iterator; rows are late, window closed
            yield pd.DataFrame([], columns=out_cols)
            return
        if state.hasTimedOut:
            row = close(grp, ws_s, state.get[0])
            state.remove()
            yield pd.DataFrame([row], columns=out_cols)
            return
        state.update((fold(state.get[0] if state.exists else None, pdfs),))
        # close when the time domain passes the window END (+ grace):
        # window membership is fixed by ws_s, so unlike the idle-
        # eviction ops the deadline never moves with new rows
        _arm_timeout(
            state, time_mode,
            window_seconds * 1000 + grace_ms, ws_s * 1000,
        )
        yield pd.DataFrame([], columns=out_cols)

    return _launch(pre, ["grp", "ws_s"], fn, out_schema, state_schema,
                   time_mode)


# --------------------------------------------------------- windowed HLL

_HLL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("grp", T.StringType()),
        T.StructField("ws_s", T.LongType()),
        T.StructField("n_regs", T.LongType()),
        T.StructField("__present", T.LongType()),
    ]
)
_HLL_STATE_SCHEMA = T.StructType(
    [T.StructField("regs", T.BinaryType(), False)]
)


def hll_window_stream(
    stream: DataFrame,
    group_col: str,
    value_col: str,
    ts_col: str = "ts",
    window_seconds: int = 3600,
    p: int = 10,
    grace_ms: int = 0,
    time_mode: str = "event",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Streaming tumbling-window distinct-count sketch: one HLL
    estimate per (group, window), emitted exactly once when the
    watermark passes the window's end (+ ``grace_ms``). The
    BOUNDED-STATE alternative to streaming ``dropDuplicates`` +
    count — that op's state grows with the number of distinct values
    seen (unusable for "distinct urls per hour" on an endless crawl),
    while this op's state is exactly 2^p BYTES per open (group,
    window), independent of cardinality.

    Cross-path exactness: registers and rho are computed JVM-SIDE
    (operators.sketches.hll_register — the shared 60-bit md5 hash)
    before the state op; the Python state function only byte-maxes
    registers and returns EXACT integers (registers hit + the
    scaled-integer harmonic); the final estimate is applied as the
    same JVM expression the batch fold uses (sketches.hll_est_expr).
    So stream output ≡ ``sketches.hll_window_batch`` bit-for-bit —
    the batch twin is the oracle (pinned by test).

    ``time_mode="event"`` (default) closes windows in DATA time —
    replay-deterministic like the other stateful ops here.
    Output: (grp string, ws_s epoch-seconds, n_regs, hll_est).
    """
    from ..operators import sketches

    stream = _stream_prologue(
        stream, "hll_window_stream", "sketches.hll_window_batch for backfill",
        time_mode, ts_col, watermark,
    )
    m = 1 << p
    k = 60 - p + 1
    reg, rho = sketches.hll_register(value_col, p)
    pre = _window_rows(
        stream, group_col, value_col, ts_col, window_seconds,
        reg.alias("__reg"), rho.alias("__rho"),
    )

    def fold(buf: bytes | None, pdfs: Iterator[pd.DataFrame]) -> bytes:
        arr = (
            np.frombuffer(buf, dtype=np.uint8).copy()
            if buf is not None
            else np.zeros(m, dtype=np.uint8)
        )
        for pdf in pdfs:
            np.maximum.at(
                arr,
                pdf["__reg"].to_numpy(dtype=np.int64),
                pdf["__rho"].to_numpy(dtype=np.uint8),
            )
        return arr.tobytes()

    def close(grp: str, ws_s: int, buf: bytes) -> tuple:
        arr = np.frombuffer(buf, dtype=np.uint8)
        present_mask = arr > 0
        # exact python ints — no float touches the harmonic
        present = sum(1 << (k - int(r)) for r in arr[present_mask])
        return (grp, ws_s, int(present_mask.sum()), present)

    folded = _window_fold_stream(
        pre, window_seconds, grace_ms, time_mode,
        _HLL_OUT_SCHEMA, _HLL_STATE_SCHEMA, fold, close,
    )
    est = sketches.hll_est_expr(F.col("n_regs"), F.col("__present"), p)
    return folded.select("grp", "ws_s", "n_regs", est.alias("hll_est"))


# --------------------------------------------------- windowed quantiles


def quantile_window_stream(
    stream: DataFrame,
    group_col: str,
    value_col: str,
    ts_col: str = "ts",
    window_seconds: int = 3600,
    quantiles: dict[str, float] | None = None,
    sub_bits: int = 4,
    grace_ms: int = 0,
    time_mode: str = "event",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Streaming tumbling-window quantiles off the integer
    relative-error sketch (operators.sketches quantile section): one
    row per (group, window) with a BIGINT column per quantile label,
    emitted exactly once when the watermark passes the window's end
    (+ ``grace_ms``). The BOUNDED-STATE alternative to buffering a
    window's raw values for a percentile: state is the bucket
    histogram — at most ``2*63*2^sub_bits + 1`` (id, count) int64
    pairs per open (group, window) regardless of how many rows the
    window sees.

    Cross-path exactness: bucket ids are computed JVM-SIDE
    (sketches._q_bucket_cols — the same codegen integer expressions
    the batch op uses); the Python state function only sums counts,
    and the close path applies the same integer midpoint + nearest-
    rank rules (sketches.qb_value / q_rank). So stream output ≡
    ``sketches.qsketch_window_batch`` bit-for-bit — the batch twin is
    the oracle (pinned by test).

    ``time_mode="event"`` (default) closes windows in DATA time —
    replay-deterministic like the other stateful ops here.
    Output: (grp string, ws_s epoch-seconds, n bigint, <labels…>).
    """
    from ..operators import sketches

    stream = _stream_prologue(
        stream, "quantile_window_stream",
        "sketches.qsketch_window_batch for backfill",
        time_mode, ts_col, watermark,
    )
    labels = sketches._q_ppm(quantiles or {"p50": 0.5})
    sketches._check_qsketch(sub_bits)
    sketches._q_require_integral(stream, value_col)

    pre = _window_rows(
        stream, group_col, value_col, ts_col, window_seconds,
        F.col(value_col).cast(T.LongType()).alias("__v"),
    )
    for name, col in sketches._q_bucket_cols(F.col("__v"), sub_bits):
        pre = pre.withColumn(name, col)
    pre = pre.select("grp", "ws_s", "__qb", "__ts")

    # labels sorted by ppm so the close path's single cumsum walk is
    # valid (ranks non-decreasing in q)
    labels.sort(key=lambda lp: lp[1])
    out_schema = T.StructType(
        [
            T.StructField("grp", T.StringType()),
            T.StructField("ws_s", T.LongType()),
            T.StructField("n", T.LongType()),
            *[T.StructField(lbl, T.LongType()) for lbl, _ in labels],
        ]
    )
    state_schema = T.StructType(
        [T.StructField("pairs", T.BinaryType(), False)]
    )

    def fold(buf: bytes | None, pdfs: Iterator[pd.DataFrame]) -> bytes:
        counts: dict[int, int] = {}
        if buf is not None:
            prev = np.frombuffer(buf, dtype=np.int64).reshape(-1, 2)
            counts = {int(b): int(c) for b, c in prev}
        for pdf in pdfs:
            vc = pdf["__qb"].value_counts()
            for b, c in vc.items():
                b = int(b)
                counts[b] = counts.get(b, 0) + int(c)
        return np.array(sorted(counts.items()), dtype=np.int64).tobytes()

    def close(grp: str, ws_s: int, buf: bytes) -> tuple:
        pairs = np.frombuffer(buf, dtype=np.int64).reshape(-1, 2)
        n = int(pairs[:, 1].sum())
        row = [grp, ws_s, n]
        idx = 0
        # pairs are kept sorted by bucket id; one walk serves all
        # labels because ranks are non-decreasing in q
        cums = pairs[:, 1].cumsum()
        for lbl, ppm in labels:
            r = sketches.q_rank(n, ppm)
            while idx < len(cums) and int(cums[idx]) < r:
                idx += 1
            row.append(sketches.qb_value(int(pairs[idx, 0]), sub_bits))
        return tuple(row)

    return _window_fold_stream(
        pre, window_seconds, grace_ms, time_mode,
        out_schema, state_schema, fold, close,
    )

"""Stateful streaming operators (SURVEY.md §2.7, T1-T3).

The reference implements these with Flink keyed ValueState / CEP;
Spark-native they are ``applyInPandasWithState`` over ``groupBy(mid)``
— Arrow-batched per-group logic with an explicit state object and
event-time timeouts. Each operator also works on batch DataFrames via
``applyInPandas`` (no state carries across calls, the whole group is
one batch) so semantics are testable without a streaming harness.

- T1 new-visitor correction (rt-flink …/app/dwd/OdsBaseLogApp.scala:86-135):
  per-mid first-visit date; a claimed ``is_new=1`` on a later date is
  rewritten to 0.
- T2 daily UV dedup (…/app/dwm/UniqueVisitApp.scala:74-116): per-mid
  keep only the first event per day; entry-page pre-filter; state TTL
  1 day ≈ keeping only the latest date in state.
- T3 bounce detection (…/app/dwm/UserJumpDetailApp.scala:93-140): CEP
  ``begin(entry).next(any).within(10 s)`` where the TIMED-OUT partial
  match is the output: an entry page with no follow-up within 10 s is
  a bounce.

Two generalizations ride on the same operator: ``track_funnel`` (the
ordered-sequence CEP pattern, with an optional ``within()``-style
abandonment timeout) and ``dedup_docs`` (exact id-level dedup in front
of the curation sinks, with an optional create-and-write state TTL).

Scale notes: state is per-mid and O(bytes); the shuffle is the
unavoidable keyBy. With RocksDB state store
(``spark.sql.streaming.stateStore.providerClass``) state spills to
disk exactly like the reference's RocksDB backend.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

BOUNCE_TIMEOUT_MS = 10_000  # .within(Time.seconds(10)), UserJumpDetailApp.scala:116

# Input contract for all three operators (flattened page log, FIXTURES.md §1).
PAGE_EVENT_SCHEMA = StructType(
    [
        StructField("mid", StringType()),
        StructField("page_id", StringType()),
        StructField("last_page_id", StringType()),
        StructField("is_new", StringType()),
        StructField("ts", LongType()),  # epoch ms
    ]
)

IS_NEW_OUT_SCHEMA = StructType(
    [
        StructField("mid", StringType()),
        StructField("page_id", StringType()),
        StructField("last_page_id", StringType()),
        StructField("is_new", StringType()),
        StructField("ts", LongType()),
    ]
)

UV_OUT_SCHEMA = StructType(
    [
        StructField("mid", StringType()),
        StructField("dt", StringType()),
        StructField("ts", LongType()),
    ]
)

BOUNCE_OUT_SCHEMA = StructType(
    [
        StructField("mid", StringType()),
        StructField("page_id", StringType()),
        StructField("ts", LongType()),
    ]
)

_DAY_MS = 86_400_000
_WATERMARK_KEY = "spark.watermarkDelayMs"  # EventTimeWatermark.delayKey


def _day(ts_ms: int) -> str:
    return pd.Timestamp(ts_ms, unit="ms").strftime("%Y-%m-%d")


def _prune_for_state(events: DataFrame, cols: "tuple[str, ...]") -> DataFrame:
    """Project to exactly the columns the stateful kernel reads — plus
    every watermarked column, found from the plan (``withWatermark``
    tags its field with ``spark.watermarkDelayMs`` metadata) rather than
    by name, since dropping it would detach the query's watermark and
    event-time timeouts — BEFORE the keyed shuffle and the Arrow
    boundary (guide §4.1/§2.3): applyInPandasWithState ships EVERY
    column of the grouped frame to the Python worker, and Spark cannot
    see which fields the function touches, so a wide production log
    schema would otherwise cross the state-store shuffle and the
    JVM→Arrow→Python boundary in full on every micro-batch. Semantics
    unchanged: the kernels read only these fields, and the output
    schema is fixed by outputStructType either way."""
    keep = list(cols)
    keep += [
        f.name for f in events.schema.fields if _WATERMARK_KEY in f.metadata and f.name not in keep
    ]
    return events.select(*keep)


# --- T1 ---------------------------------------------------------------------


def _is_new_fn(
    key: tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """T1 on applyInPandasWithState. State: first visit date string.
    Rewrites is_new=1 → 0 when the mid has an earlier first-visit date
    (OdsBaseLogApp.scala:90-135)."""
    (first_date,) = state.get if state.exists else (None,)
    rows: list[dict[str, Any]] = []
    for pdf in pdfs:
        for r in pdf.sort_values("ts").itertuples(index=False):
            d = _day(r.ts)
            is_new = r.is_new
            if is_new == "1":
                if first_date is None:
                    first_date = d
                elif first_date != d:
                    is_new = "0"
            elif first_date is None:
                # Visitor already returning: remember a date strictly
                # before today so later ``is_new=1`` claims are corrected
                # (reference stores yesterday, OdsBaseLogApp.scala:128-131).
                first_date = _day(r.ts - _DAY_MS)
            rows.append(
                {"mid": r.mid, "page_id": r.page_id, "last_page_id": r.last_page_id, "is_new": is_new, "ts": r.ts}
            )
    state.update((first_date,))
    yield pd.DataFrame(rows, columns=[f.name for f in IS_NEW_OUT_SCHEMA.fields])


def correct_is_new(events: DataFrame) -> DataFrame:
    events = _prune_for_state(events, ("mid", "page_id", "last_page_id", "is_new", "ts"))
    return events.groupBy("mid").applyInPandasWithState(
        _is_new_fn,
        outputStructType=IS_NEW_OUT_SCHEMA,
        stateStructType="first_date STRING",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- T2 ---------------------------------------------------------------------


def _uv_scan(pdfs: Iterable[pd.DataFrame], last_date: str | None):
    """Shared T2 loop: (rows_to_emit, new_last_date, max_ts_seen)."""
    rows: list[dict[str, Any]] = []
    max_ts: int | None = None
    for pdf in pdfs:
        for r in pdf.sort_values("ts").itertuples(index=False):
            max_ts = r.ts if max_ts is None else max(max_ts, r.ts)
            if r.last_page_id is not None and r.last_page_id != "":
                continue  # not a session entry → can't be first visit of day
            d = _day(r.ts)
            if last_date is None or d > last_date:
                rows.append({"mid": r.mid, "dt": d, "ts": r.ts})
                last_date = d
    return rows, last_date, max_ts


def _uv_fn(key: tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    """First visit per (mid, day); entry-filter on last_page_id; state
    holds the last seen date (UniqueVisitApp.scala:87-101)."""
    (last_date,) = state.get if state.exists else (None,)
    rows, last_date, _ = _uv_scan(pdfs, last_date)
    state.update((last_date,))
    yield pd.DataFrame(rows, columns=[f.name for f in UV_OUT_SCHEMA.fields])


def _uv_fn_ttl(key: tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    """T2 with the reference's 1-day state TTL (StateTtlConfig
    Time.days(1), UniqueVisitApp.scala:87-92): state for a mid idle past
    a day is dropped by an event-time timeout, bounding total state to
    mids active in the last day — the property that matters at
    production mid cardinality. (Like the reference's TTL, expiry is
    unobservable in outputs — a same-date revisit >24 h later cannot
    exist — it is purely a state-size bound.)"""
    if state.hasTimedOut:
        state.remove()
        yield pd.DataFrame([], columns=[f.name for f in UV_OUT_SCHEMA.fields])
        return
    (last_date,) = state.get if state.exists else (None,)
    rows, last_date, max_ts = _uv_scan(pdfs, last_date)
    state.update((last_date,))
    if max_ts is not None:
        # never set a timeout at/below the watermark (Spark rejects it)
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(max_ts + _DAY_MS, wm + 1))
    yield pd.DataFrame(rows, columns=[f.name for f in UV_OUT_SCHEMA.fields])


def unique_visits(events: DataFrame, ttl: bool = False) -> DataFrame:
    """T2 daily-UV dedup. ``ttl=True`` reproduces the reference's 1-day
    state TTL via event-time timeouts — the input must then carry a
    watermarked event-time column (e.g. ``withWatermark("eventTime",
    …)``) in addition to the epoch-ms ``ts``."""
    events = _prune_for_state(events, ("mid", "ts", "last_page_id"))
    if ttl:
        return events.groupBy("mid").applyInPandasWithState(
            _uv_fn_ttl,
            outputStructType=UV_OUT_SCHEMA,
            stateStructType="last_date STRING",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    return events.groupBy("mid").applyInPandasWithState(
        _uv_fn,
        outputStructType=UV_OUT_SCHEMA,
        stateStructType="last_date STRING",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- T3 ---------------------------------------------------------------------


def _bounce_scan(
    pdfs: Iterable[pd.DataFrame],
    pending_page: str | None,
    pending_ts: int | None,
) -> tuple[list[dict[str, Any]], str | None, int | None]:
    """Shared T3 kernel (rows_to_emit, pending_page, pending_ts): hold
    each entry event (empty last_page_id); the NEXT event for the mid
    resolves the held entry — gap > 10 s emits it as a bounce, within
    10 s discards it (UserJumpDetailApp.scala:93-140). One pure
    function consumed by the streaming (``_bounce_fn``) and batch
    (``detect_bounces_batch``) paths so their CEP semantics cannot
    drift."""
    rows: list[dict[str, Any]] = []
    for pdf in pdfs:
        for r in pdf.sort_values("ts").itertuples(index=False):
            if pending_ts is not None:
                if r.ts - pending_ts > BOUNCE_TIMEOUT_MS:
                    rows.append({"mid": r.mid, "page_id": pending_page, "ts": pending_ts})
                pending_page, pending_ts = None, None
            if r.last_page_id is None or r.last_page_id == "":
                pending_page, pending_ts = r.page_id, r.ts
    return rows, pending_page, pending_ts


def _bounce_fn(key: tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    """T3 on applyInPandasWithState. State: pending entry (page_id, ts).

    On streams, the pending entry is flushed by an event-time timeout
    when the watermark passes ts+10 s; on batch (applyInPandas path)
    the group end flushes it.
    """
    pending_page, pending_ts = (state.get if state.exists else (None, None))

    if state.hasTimedOut:
        rows: list[dict[str, Any]] = []
        if pending_ts is not None:
            rows.append({"mid": key[0], "page_id": pending_page, "ts": pending_ts})
        state.remove()
        yield pd.DataFrame(rows, columns=[f.name for f in BOUNCE_OUT_SCHEMA.fields])
        return

    rows, pending_page, pending_ts = _bounce_scan(pdfs, pending_page, pending_ts)
    if pending_ts is not None:
        state.update((pending_page, pending_ts))
        state.setTimeoutTimestamp(pending_ts + BOUNCE_TIMEOUT_MS)
    elif state.exists:
        # No pending match → drop the state row. Never write placeholder
        # state for idle mids: with no timeout attached it would live
        # forever — unbounded state growth at production mid counts.
        state.remove()
    yield pd.DataFrame(rows, columns=[f.name for f in BOUNCE_OUT_SCHEMA.fields])


def detect_bounces(events: DataFrame) -> DataFrame:
    """Streaming bounce detection. ``events`` must carry a watermarked
    timestamp column for the timeout to fire, under any name (e.g.
    ``withWatermark("eventTime", "2 seconds")``); the watermarked
    column survives the state projection."""
    events = _prune_for_state(events, ("mid", "page_id", "last_page_id", "ts"))
    return events.groupBy("mid").applyInPandasWithState(
        _bounce_fn,
        outputStructType=BOUNCE_OUT_SCHEMA,
        stateStructType="pending_page STRING, pending_ts LONG",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- Batch analogs ----------------------------------------------------------


def detect_bounces_batch(events: DataFrame) -> DataFrame:
    """Batch path: same shared kernel via applyInPandas (whole history
    per mid in one group; trailing entry events are flushed as bounces
    — batch "end of stream" plays the stream's timeout)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rows, pending_page, pending_ts = _bounce_scan([pdf], None, None)
        if pending_ts is not None:
            rows.append({"mid": pdf["mid"].iloc[0], "page_id": pending_page, "ts": pending_ts})
        return pd.DataFrame(rows, columns=[f.name for f in BOUNCE_OUT_SCHEMA.fields])

    events = _prune_for_state(events, ("mid", "page_id", "last_page_id", "ts"))
    return events.groupBy("mid").applyInPandas(fn, schema=BOUNCE_OUT_SCHEMA)


# --- Streaming funnel (T3 generalization) -----------------------------------

FUNNEL_EVENT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("ts", LongType()),  # epoch ms
    ]
)

FUNNEL_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("funnel_stage", LongType()),
        StructField("reached_ts", LongType()),
    ]
)


def _funnel_fn_factory(steps: tuple[str, ...], abandon_timeout_ms: int | None = None):
    """Per-user funnel advance: state = (stage, reach_ts); an event
    advances the funnel iff it is the NEXT step's type at-or-after the
    time the current stage was reached (the same inclusive `>=`
    the batch operator and its SQL oracle use). Emits one row per
    advance — consumers take the max stage per user.

    Equivalence contract with ``behavior.funnel_stages``: identical
    final stages when events arrive in event-time order across
    micro-batches (the same in-order caveat T1 documents). WITHIN a
    micro-batch the contract is unconditional: the group's Arrow
    chunks are pooled and sorted ONCE (a per-chunk sort would process
    large groups out of order — the iterator splits a group at
    ``arrow.maxRecordsPerBatch`` rows), and the sort key is
    ``(ts, step-rank)`` so same-timestamp progression (view@t,
    click@t) advances exactly like the batch operator's inclusive
    ``>=`` — a bare unstable ts sort would count or miss the tied
    click depending on arbitrary tie order. NULL users are dropped,
    mirroring the batch operator.

    With ``abandon_timeout_ms`` the state also holds the attempt's
    deadline: the stage-1 row's ts + timeout, set at the first advance
    (Flink CEP ``within()`` anchors at the pattern's FIRST match, not at
    the last stage reached). The event-time timeout is re-armed at the
    deadline on every call while the funnel is incomplete; when it
    fires the function emits ``(user_id, -stage, deadline)`` and
    removes the state — ``within()`` DISCARDS a timed-out partial
    match, so later events start a fresh attempt from stage 0.
    """
    cols = [f.name for f in FUNNEL_OUT_SCHEMA.fields]

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        stage, reach_ts = (state.get if state.exists else (0, None))
        rows, stage, reach_ts = _funnel_scan(key[0], pdfs, steps, stage, reach_ts)
        state.update((stage, reach_ts))
        yield pd.DataFrame(rows, columns=cols)

    def fn_abandon(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            stage, _, deadline = state.get
            state.remove()
            yield pd.DataFrame([{"user_id": key[0], "funnel_stage": -stage, "reached_ts": deadline}], columns=cols)
            return
        stage, reach_ts, deadline = (state.get if state.exists else (0, None, None))
        rows, new_stage, reach_ts = _funnel_scan(key[0], pdfs, steps, stage, reach_ts)
        if stage == 0 and 0 < new_stage < len(steps):
            deadline = int(rows[0]["reached_ts"]) + abandon_timeout_ms
        state.update((new_stage, reach_ts, deadline))
        if deadline is not None and new_stage < len(steps):
            # never at/below the watermark (Spark rejects it): a deadline
            # the watermark already passed fires in the next batch
            state.setTimeoutTimestamp(max(deadline, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame(rows, columns=cols)

    return fn if abandon_timeout_ms is None else fn_abandon


def _funnel_scan(
    user_id,
    pdfs: "Iterable[pd.DataFrame]",
    steps: tuple[str, ...],
    stage: int,
    reach_ts,
) -> tuple[list[dict], int, "int | None"]:
    """The one funnel-advance kernel: pool the group's Arrow chunks,
    sort once on (ts, step-rank), advance on next-step matches
    at-or-after the current reach time. Returns (emitted rows, stage,
    reach_ts)."""
    rank = {s: i for i, s in enumerate(steps)}
    rows: list[dict[str, Any]] = []
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pooled = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        pooled = pooled.assign(
            _rk=pooled["event_type"].map(rank).fillna(len(steps)).astype("int64")
        )
        for r in pooled.sort_values(["ts", "_rk"], kind="stable").itertuples(index=False):
            if stage >= len(steps):
                break
            if r.event_type == steps[stage] and (reach_ts is None or r.ts >= reach_ts):
                stage += 1
                reach_ts = r.ts
                rows.append(
                    {"user_id": user_id, "funnel_stage": stage, "reached_ts": r.ts}
                )
    return rows, stage, reach_ts


def track_funnel(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    abandon_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming funnel progression: append-mode rows
    ``(user_id, funnel_stage, reached_ts)`` emitted as each user
    advances a stage — the ordered-sequence CEP pattern
    (begin(step1).followedBy(step2)…) the reference expresses in
    Flink CEP, over the same keyBy shuffle. State per user is two
    numbers; at production user counts pair with the RocksDB state
    store exactly like T1-T3.

    With ``abandon_timeout_ms`` set, ``events`` must carry a watermarked
    timestamp column, and an incomplete funnel whose deadline the
    watermark passes emits one terminal abandonment row
    ``(user_id, -stage, deadline)`` (Flink CEP ``within()``'s timed-out
    channel; see ``_funnel_fn_factory``)."""
    events = _prune_for_state(events, ("user_id", "event_type", "ts"))
    timed = abandon_timeout_ms is not None
    return (
        events.filter(events["user_id"].isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_fn_factory(tuple(steps), abandon_timeout_ms),
            outputStructType=FUNNEL_OUT_SCHEMA,
            stateStructType="stage LONG, reach_ts LONG" + (", deadline LONG" if timed else ""),
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout if timed else GroupStateTimeout.NoTimeout,
        )
    )


# --- Curation id-dedup ------------------------------------------------------

DEDUP_DOC_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def _doc_seen_scan(pdfs: Iterable[pd.DataFrame]) -> str | None:
    """Doc-seen kernel: the representative text of one doc_id's rows in
    one batch, the lexicographically SMALLEST non-null text — a
    deterministic choice where "whichever row Spark hands over first"
    would make replays of the same batch emit different rows; null
    texts lose to any string, all-null keeps None."""
    texts = [t for pdf in pdfs for t in pdf["text"].tolist() if isinstance(t, str)]
    return min(texts) if texts else None


def _dedup_docs_fn_factory(ttl_ms: int | None):
    """State = the doc's admission time (batch processing time). A key
    with no live admission emits its representative and records the
    admission; every later row for it is dropped. With ``ttl_ms`` the
    TTL is create-and-write like the UV filter's StateTtlConfig: it
    runs from admission, a redelivery never extends it (the
    processing-time timeout is re-armed with the REMAINING duration on
    every call, since Spark clears it on each call), and once it lapses
    the admission is forgotten — the timeout removes the state, and a
    redelivery that beats the timeout sweep reads it as absent — so the
    next delivery is admitted afresh."""
    cols = [f.name for f in DEDUP_DOC_OUT_SCHEMA.fields]

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame([], columns=cols)
            return
        rep = _doc_seen_scan(pdfs)
        now = state.getCurrentProcessingTimeMs()
        (admitted,) = state.get if state.exists else (None,)
        rows: list[dict[str, Any]] = []
        if admitted is None or (ttl_ms is not None and now - admitted >= ttl_ms):
            rows.append({"doc_id": key[0], "text": rep})
            admitted = now
            state.update((admitted,))
        if ttl_ms is not None:
            state.setTimeoutDuration(admitted + ttl_ms - now)
        yield pd.DataFrame(rows, columns=cols)

    return fn


def dedup_docs(docs: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Streaming exact-id dedup of ``(doc_id, text)`` rows for the
    curation ingest path: keyed by doc_id, the FIRST occurrence passes
    and every redelivery (at-least-once source, replayed extract,
    duplicated upstream shard) is dropped before the expensive
    near-dup/index sinks run (near_dup_maintenance_sink → keepers →
    ivf_index_maintenance_sink). Content dups under DIFFERENT ids pass:
    they are the near-dup store's job. The reference's analog is the
    keyed ValueState dedup the UV filter builds on
    (UniqueVisitApp.scala:87-116), generalized from (mid, day) to a
    curation key.

    Exactness contract: without ``ttl_ms`` the gate is exact and its
    state unbounded; with ``ttl_ms`` it is exact WITHIN the TTL horizon
    only — a redelivery arriving after the admission ages out is
    re-admitted by design (the bounded-state trade the reference's
    StateTtlConfig UV filter makes). When duplicate ids inside one batch
    carry differing text, the representative is the smallest text of
    the batch (``_doc_seen_scan``); across batches the first-admitted
    batch's representative wins. With ``ttl_ms`` Spark runs a
    micro-batch on every trigger to sweep the processing-time
    timeouts, new data or not, so give such a query a trigger
    interval."""
    docs = _prune_for_state(docs, ("doc_id", "text"))
    return (
        docs.filter(docs["doc_id"].isNotNull())
        .groupBy("doc_id")
        .applyInPandasWithState(
            _dedup_docs_fn_factory(ttl_ms),
            outputStructType=DEDUP_DOC_OUT_SCHEMA,
            stateStructType="admitted_ms LONG",
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.NoTimeout if ttl_ms is None else GroupStateTimeout.ProcessingTimeTimeout
            ),
        )
    )

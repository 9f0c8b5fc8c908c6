"""Streaming stateful operators (T1-T3) against the reference's
documented semantics, including the canonical 4-event bounce fixture
(rt-flink …/app/dwm/UserJumpDetailApp.scala:74-79, FIXTURES.md §1).

CEP analysis of the fixture (begin(entry) → next(any) within 10 s,
timed-out partials emitted):
- mid 101 entry @10000: no follow-up ever → TIMEOUT → bounce.
- mid 102 entry @12000: followed @15000 (3 s < 10 s) → full match →
  discarded. Events @15000/@30000 have last_page_id set → never begin
  a pattern. → bounces == {101@10000}.
"""

from __future__ import annotations

import json
import os
import time

import pyspark.sql.functions as F
import pytest

from rt_bigdata_spark.streaming.stateful import (

    FUNNEL_EVENT_SCHEMA,
    PAGE_EVENT_SCHEMA,
    correct_is_new,
    dedup_docs,
    detect_bounces,
    detect_bounces_batch,
    track_funnel,
    unique_visits,
)

# Heavy tier (r10 verdict item 6): excluded from the <5 min inner
# loop (`pytest -m "not slow"`); the full suite still runs once per
# round and in any timing-isolated window.
pytestmark = pytest.mark.slow

FIXTURE = [
    {"mid": "101", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 10000},
    {"mid": "102", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 12000},
    {"mid": "102", "page_id": "good_list", "last_page_id": "home", "is_new": "1", "ts": 15000},
    {"mid": "102", "page_id": "good_list", "last_page_id": "detail", "is_new": "1", "ts": 30000},
]


def test_bounce_batch_fixture(spark):
    df = spark.createDataFrame(FIXTURE, PAGE_EVENT_SCHEMA)
    out = {(r.mid, r.ts) for r in detect_bounces_batch(df).collect()}
    assert out == {("101", 10000)}


def test_bounce_batch_late_entry_times_out(spark):
    events = FIXTURE + [
        {"mid": "102", "page_id": "cart", "last_page_id": None, "is_new": "0", "ts": 40000},
        {"mid": "102", "page_id": "pay", "last_page_id": "cart", "is_new": "0", "ts": 60000},
    ]
    df = spark.createDataFrame(events, PAGE_EVENT_SCHEMA)
    out = {(r.mid, r.ts) for r in detect_bounces_batch(df).collect()}
    # cart entry @40000: next event @60000 is 20 s later (> 10 s) → bounce.
    assert out == {("101", 10000), ("102", 40000)}


def _write_batch(dir_: str, name: str, rows: list[dict]) -> None:
    path = os.path.join(dir_, name)
    with open(path + ".tmp", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.rename(path + ".tmp", path)
    time.sleep(0.05)  # distinct mtimes → deterministic file order


def _bounce_stream(spark, tmp_path, wm_col: str) -> set:
    """Real streaming path: batch 1 carries the fixture, later batches
    advance the watermark (declared on ``wm_col``) past 101's timeout."""
    src = tmp_path / "src"
    src.mkdir()
    chk = str(tmp_path / "chk")
    _write_batch(str(src), "b1.json", FIXTURE)

    stream = (
        spark.readStream.schema(PAGE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn(wm_col, F.timestamp_millis(F.col("ts")))
        .withWatermark(wm_col, "1 second")
    )
    q = (
        detect_bounces(stream)
        .writeStream.format("memory")
        .queryName(f"bounces_{wm_col}")
        .option("checkpointLocation", chk)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # Watermark only reaches 30 s after batch 1; a second batch pushes
        # it further and fires 101's pending timeout (10000 + 10000 < wm).
        _write_batch(str(src), "b2.json", [
            {"mid": "103", "page_id": "home", "last_page_id": "x", "is_new": "0", "ts": 60000},
        ])
        q.processAllAvailable()
        # One more batch so the watermark from b2 is applied to state.
        _write_batch(str(src), "b3.json", [
            {"mid": "103", "page_id": "home", "last_page_id": "x", "is_new": "0", "ts": 90000},
        ])
        q.processAllAvailable()
        return {(r.mid, r.ts) for r in spark.sql(f"select * from bounces_{wm_col}").collect()}
    finally:
        q.stop()


@pytest.mark.slow
def test_bounce_streaming_two_batches(spark, tmp_path):
    out = _bounce_stream(spark, tmp_path, "eventTime")
    assert ("101", 10000) in out
    assert all(mid != "102" for mid, _ in out)


def test_bounce_streaming_on_any_watermark_column(spark, tmp_path):
    """The state projection keeps the watermarked column found from the
    plan, not by the name ``eventTime``: a stream watermarked on ``evt``
    used to lose it before the stateful operator, and Spark refused the
    event-time timeout at start()."""
    out = _bounce_stream(spark, tmp_path, "evt")
    assert ("101", 10000) in out
    assert all(mid != "102" for mid, _ in out)


def _single_batch_stream(spark, tmp_path, rows, op):
    src = tmp_path / "src1"
    src.mkdir()
    _write_batch(str(src), "b1.json", rows)
    stream = spark.readStream.schema(PAGE_EVENT_SCHEMA).json(str(src))
    name = f"out_{abs(hash(str(rows))) % 10**8}"
    q = (
        op(stream)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "chk1"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        return spark.sql(f"select * from {name}").collect()
    finally:
        q.stop()


def test_is_new_correction_stream(spark, tmp_path):
    rows = [
        {"mid": "A", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 1_000},
        # next day claims is_new=1 again → must be corrected to 0
        {"mid": "A", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 90_000_000},
        {"mid": "B", "page_id": "home", "last_page_id": None, "is_new": "0", "ts": 1_000},
        # B is returning: a later is_new=1 claim is bogus → corrected
        {"mid": "B", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 90_000_000},
    ]
    out = _single_batch_stream(spark, tmp_path, rows, correct_is_new)
    got = {(r.mid, r.ts): r.is_new for r in out}
    assert got[("A", 1_000)] == "1"
    assert got[("A", 90_000_000)] == "0"
    assert got[("B", 1_000)] == "0"
    assert got[("B", 90_000_000)] == "0"


def test_uv_dedup_stream(spark, tmp_path):
    rows = [
        {"mid": "A", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 1_000},
        {"mid": "A", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 2_000},  # same day dup
        {"mid": "A", "page_id": "list", "last_page_id": "home", "is_new": "1", "ts": 3_000},  # not entry
        {"mid": "A", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 90_000_000},  # next day
    ]
    out = _single_batch_stream(spark, tmp_path, rows, unique_visits)
    got = sorted((r.mid, r.ts) for r in out)
    assert got == [("A", 1_000), ("A", 90_000_000)]


def test_uv_dedup_ttl_bounds_state(spark, tmp_path):
    """ttl=True drops state for mids idle past one day: after the
    watermark advances 2 days, the early mids' state rows are gone and
    only the fresh mid remains — the state-size bound the reference gets
    from StateTtlConfig(Time.days(1))."""
    import pyspark.sql.functions as F

    src = tmp_path / "src_ttl"
    src.mkdir()
    _write_batch(str(src), "b1.json", [
        {"mid": "A", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 1_000},
        {"mid": "B", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 2_000},
    ])
    stream = (
        spark.readStream.schema(PAGE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("eventTime", F.timestamp_millis(F.col("ts")))
        .withWatermark("eventTime", "1 second")
    )
    q = (
        unique_visits(stream, ttl=True)
        .writeStream.format("memory")
        .queryName("uv_ttl")
        .option("checkpointLocation", str(tmp_path / "chk_ttl"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark 2 days past A/B → their state times out
        _write_batch(str(src), "b2.json", [
            {"mid": "C", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 2 * 86_400_000},
        ])
        q.processAllAvailable()
        # one more micro-batch so the post-timeout state metric is reported
        _write_batch(str(src), "b3.json", [
            {"mid": "C", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 2 * 86_400_000 + 5_000},
        ])
        q.processAllAvailable()
        state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        assert state_rows == 1, f"expected only mid C in state, saw {state_rows} rows"
        emitted = sorted((r.mid, r.dt) for r in spark.sql("select * from uv_ttl").collect())
        assert emitted == [("A", "1970-01-01"), ("B", "1970-01-01"), ("C", "1970-01-03")]
    finally:
        q.stop()


def test_uv_dedup_on_rocksdb_state_store(spark, tmp_path):
    """T6 parity: the same stateful operator runs unchanged on the
    RocksDB state store provider (the reference's RocksDB backend)."""
    from rt_bigdata_spark.session import use_rocksdb_state

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    use_rocksdb_state(spark)
    try:
        rows = [
            {"mid": "A", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 1_000},
            {"mid": "A", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 2_000},
            {"mid": "B", "page_id": "home", "last_page_id": None, "is_new": "1", "ts": 3_000},
        ]
        out = _single_batch_stream(spark, tmp_path, rows, unique_visits)
        assert sorted((r.mid, r.ts) for r in out) == [("A", 1_000), ("B", 3_000)]
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """track_funnel over two micro-batches reaches the same final
    stages as the batch operator (behavior.funnel_stages) on the same
    events — the streaming/batch equivalence contract."""
    from rt_bigdata_spark.operators.behavior import funnel_stages

    b1 = [
        {"user_id": 1, "event_type": "view", "ts": 1000},
        {"user_id": 1, "event_type": "click", "ts": 2000},
        {"user_id": 2, "event_type": "click", "ts": 1500},  # click before view: no advance
        {"user_id": 3, "event_type": "view", "ts": 1000},
        # u4: tied timestamps in ONE batch — inclusive >= progression
        # must count regardless of arbitrary intra-ts arrival order
        {"user_id": 4, "event_type": "click", "ts": 5000},
        {"user_id": 4, "event_type": "view", "ts": 5000},
    ]
    b2 = [
        {"user_id": 1, "event_type": "purchase", "ts": 9000},  # completes across batches
        {"user_id": 2, "event_type": "view", "ts": 3000},
        {"user_id": 3, "event_type": "error", "ts": 4000},
    ]
    src = tmp_path / "fsrc"
    src.mkdir()
    _write_batch(str(src), "b1.json", b1)
    stream = (
        spark.readStream.schema(FUNNEL_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        track_funnel(stream)
        .writeStream.format("memory")
        .queryName("funnel_out")
        .option("checkpointLocation", str(tmp_path / "fchk"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(str(src), "b2.json", b2)
        q.processAllAvailable()
        rows = spark.sql("select * from funnel_out").collect()
    finally:
        q.stop()
    stream_stages: dict[int, int] = {}
    for r in rows:
        stream_stages[r.user_id] = max(stream_stages.get(r.user_id, 0), r.funnel_stage)

    import pyspark.sql.functions as _F

    all_events = spark.createDataFrame(b1 + b2, FUNNEL_EVENT_SCHEMA).withColumn(
        "ts", _F.timestamp_millis(_F.col("ts"))
    )
    batch = {
        r.user_id: r.funnel_stage
        for r in funnel_stages(all_events, ("view", "click", "purchase")).collect()
    }
    # streaming emits only on advance; users stuck at 0 appear in batch only
    assert stream_stages == {u: s for u, s in batch.items() if s > 0}
    assert batch == {1: 3, 2: 1, 3: 1, 4: 2}


def test_funnel_abandonment_on_real_stream(spark, tmp_path):
    """``track_funnel(abandon_timeout_ms=…)`` on a real stream with
    event-time watermarks: (a) a user advancing TWO stages in one batch
    gets the deadline of its stage-1 row (fires at 61000, not 110000);
    (b) after the terminal negative-stage row the partial match is
    DISCARDED — a later click cannot advance the dead attempt, and a
    later view starts a FRESH attempt at stage 1."""
    src = tmp_path / "src"
    src.mkdir()
    _write_batch(str(src), "b1.json", [
        {"user_id": 7, "event_type": "view", "ts": 1000},
        {"user_id": 7, "event_type": "click", "ts": 50_000},
    ])
    stream = (
        spark.readStream.schema(FUNNEL_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("eventTime", F.timestamp_millis(F.col("ts")))
        .withWatermark("eventTime", "1 second")
    )
    q = (
        track_funnel(stream, abandon_timeout_ms=60_000)
        .writeStream.format("memory")
        .queryName("funnel_abandon")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # an unrelated user far ahead moves the watermark past 61000
        _write_batch(str(src), "b2.json", [{"user_id": 99, "event_type": "view", "ts": 200_000}])
        q.processAllAvailable()
        # post-timeout click must NOT advance the dead attempt
        _write_batch(str(src), "b3.json", [{"user_id": 7, "event_type": "click", "ts": 290_000}])
        q.processAllAvailable()
        # a fresh view restarts a NEW attempt at stage 1
        _write_batch(str(src), "b4.json", [{"user_id": 7, "event_type": "view", "ts": 300_000}])
        q.processAllAvailable()
        rows = {
            (r.funnel_stage, r.reached_ts)
            for r in spark.sql("select * from funnel_abandon where user_id = 7").collect()
        }
    finally:
        q.stop()
    assert rows == {(1, 1000), (2, 50_000), (-2, 61_000), (1, 300_000)}


def _docs_stream(spark, src):
    return spark.readStream.schema("doc_id LONG, text STRING").option("maxFilesPerTrigger", "1").json(str(src))


def test_dedup_docs_stream(spark, tmp_path):
    """First delivery per doc_id passes (smallest text of its batch),
    in-batch and cross-batch redeliveries drop, on the default state
    store."""
    src = tmp_path / "src"
    src.mkdir()
    _write_batch(str(src), "b1.json", [
        {"doc_id": 1, "text": "a"},
        {"doc_id": 2, "text": "b-redelivered"},
        {"doc_id": 2, "text": "b"},
        {"doc_id": None, "text": "no id"},
    ])
    q = (
        dedup_docs(_docs_stream(spark, src))
        .writeStream.format("memory")
        .queryName("dedup_docs")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(str(src), "b2.json", [{"doc_id": 1, "text": "a-replayed"}, {"doc_id": 3, "text": "c"}])
        q.processAllAvailable()
        got = sorted((r.doc_id, r.text) for r in spark.sql("select * from dedup_docs").collect())
    finally:
        q.stop()
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_dedup_docs_ttl_readmits_after_expiry(spark, tmp_path):
    """With ``ttl_ms`` the gate runs on processing-time timeouts: a
    redelivery arriving after the admission's TTL has lapsed is
    admitted again (the bounded-state trade of the create-and-write
    TTL). Such a query runs a micro-batch on every trigger to sweep
    timeouts, so it is driven by a trigger interval and polled —
    ``processAllAvailable`` would never see the stream idle."""
    src = tmp_path / "src"
    src.mkdir()
    got: list[tuple] = []

    def collect(batch_df, batch_id: int) -> None:
        got.extend((r.doc_id, r.text) for r in batch_df.collect())

    def wait_for(n: int) -> None:
        deadline = time.monotonic() + 120
        while len(got) < n and time.monotonic() < deadline:
            time.sleep(0.2)

    q = (
        dedup_docs(_docs_stream(spark, src), ttl_ms=1_000)
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        _write_batch(str(src), "b1.json", [{"doc_id": 1, "text": "a"}])
        wait_for(1)
        time.sleep(1.5)
        _write_batch(str(src), "b2.json", [{"doc_id": 1, "text": "a"}])
        wait_for(2)
    finally:
        q.stop()
    assert got == [(1, "a"), (1, "a")]

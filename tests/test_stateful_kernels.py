"""Stateful state functions (streaming/stateful.py) driven call by call,
without a Spark session.

Each call gets a fresh pyspark ``GroupState`` the way the engine builds
one: the stored value, the batch's processing time and watermark, and
NO timeout — Spark clears the timeout on every call, so a function
that wants one must re-arm it each time. The real ``GroupState`` class
enforces the API rules (timeout kinds, never below the watermark), and
its ``json()`` is what the worker ships back, so an unserializable
timeout fails here too.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Row
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from rt_bigdata_spark.streaming.stateful import (
    BOUNCE_TIMEOUT_MS,
    _bounce_fn,
    _dedup_docs_fn_factory,
    _funnel_fn_factory,
    _is_new_fn,
    _uv_fn,
)

NO_TS = GroupState.NO_TIMESTAMP
STEPS = ("view", "click", "purchase")


class KeyState:
    """One key's state across calls."""

    def __init__(self, timeout_conf: str = GroupStateTimeout.NoTimeout) -> None:
        self.conf = timeout_conf
        self.value: tuple | None = None
        self.timeout = NO_TS

    def call(self, fn, key, rows, *, now=1, wm=NO_TS, timed_out=False) -> pd.DataFrame:
        st = GroupState(
            Row(*self.value) if self.value is not None else None,
            now, wm, self.conf, timed_out, wm != NO_TS,
            self.value is not None, False, False, NO_TS, b"", None,
        )
        pdfs = iter([pd.DataFrame(rows)] if rows else [])
        out = pd.concat(list(fn(key, pdfs, st)), ignore_index=True)
        self.value = st.getOption
        self.timeout = json.loads(st.json())["timeoutTimestamp"]
        return out


def _page(mid, ts, page="home", last=None, is_new="0"):
    return {"mid": mid, "page_id": page, "last_page_id": last, "is_new": is_new, "ts": ts}


# --- T1 / T2 / T3 ------------------------------------------------------------


def test_is_new_corrects_claims_across_calls():
    a = KeyState()
    out = a.call(_is_new_fn, ("A",), [_page("A", 1_000, is_new="1"), _page("A", 2_000, "list", "home", "1")])
    assert list(out["is_new"]) == ["1", "1"]  # same day: claims stand
    assert list(a.call(_is_new_fn, ("A",), [_page("A", 90_000_000, is_new="1")])["is_new"]) == ["0"]
    # first sighting already returning: state back-dates to yesterday,
    # so a later same-day is_new=1 claim is corrected
    b = KeyState()
    b.call(_is_new_fn, ("B",), [_page("B", 90_000_000)])
    assert list(b.call(_is_new_fn, ("B",), [_page("B", 90_001_000, is_new="1")])["is_new"]) == ["0"]


def test_uv_carries_last_date_across_calls():
    a = KeyState()
    out = a.call(_uv_fn, ("A",), [_page("A", 1_000), _page("A", 2_000), _page("A", 3_000, "list", "home")])
    assert list(out["ts"]) == [1_000]
    out2 = a.call(_uv_fn, ("A",), [_page("A", 5_000), _page("A", 90_000_000)])
    assert list(out2["ts"]) == [90_000_000]


def test_bounce_timeout_rearms_at_the_held_entry_and_flushes_it():
    x = KeyState(GroupStateTimeout.EventTimeTimeout)
    assert x.call(_bounce_fn, ("X",), [_page("X", 1_000, "a")], wm=0).empty
    assert x.timeout == 1_000 + BOUNCE_TIMEOUT_MS
    # successor resolves entry a (within 10 s: discarded); a newer entry
    # c is held and the one timeout now belongs to c — no stale timer
    out = x.call(_bounce_fn, ("X",), [_page("X", 2_000, "b", "a"), _page("X", 100_000, "c")], wm=0)
    assert out.empty
    assert x.value == ("c", 100_000) and x.timeout == 110_000
    fired = x.call(_bounce_fn, ("X",), [], wm=110_001, timed_out=True)
    assert list(fired["ts"]) == [100_000] and x.value is None
    # a resolved entry with no successor entry leaves no state behind
    y = KeyState(GroupStateTimeout.EventTimeTimeout)
    y.call(_bounce_fn, ("Y",), [_page("Y", 1_000)], wm=0)
    out_y = y.call(_bounce_fn, ("Y",), [_page("Y", 50_000, "list", "home")], wm=0)
    assert list(out_y["ts"]) == [1_000]  # 49 s gap > 10 s: bounce
    assert y.value is None and y.timeout == NO_TS


# --- curation id-dedup -------------------------------------------------------


def test_doc_seen_admits_first_delivery_only():
    fn = _dedup_docs_fn_factory(None)
    d = KeyState()
    out = d.call(fn, (5,), [{"doc_id": 5, "text": "first text"}, {"doc_id": 5, "text": "in-batch redelivery"}])
    assert out.to_dict("records") == [{"doc_id": 5, "text": "first text"}]
    assert d.call(fn, (5,), [{"doc_id": 5, "text": "replayed"}], now=10**12).empty
    assert d.timeout == NO_TS  # no TTL: no timeout, exact unbounded gate


def test_doc_seen_representative_is_deterministic():
    fn = _dedup_docs_fn_factory(None)
    texts = ["zebra variant", "alpha variant", "mid variant"]
    for order in (texts, texts[::-1]):
        out = KeyState().call(fn, (7,), [{"doc_id": 7, "text": t} for t in order])
        assert list(out["text"]) == ["alpha variant"]
    out = KeyState().call(fn, (8,), [{"doc_id": 8, "text": None}, {"doc_id": 8, "text": "real text"}])
    assert list(out["text"]) == ["real text"]  # null loses to any string
    out = KeyState().call(fn, (9,), [{"doc_id": 9, "text": None}])
    assert len(out) == 1 and out["text"].iloc[0] is None  # all-null keeps None


def test_doc_seen_ttl_runs_from_admission_and_redelivery_does_not_extend_it():
    fn = _dedup_docs_fn_factory(60_000)
    d = KeyState(GroupStateTimeout.ProcessingTimeTimeout)
    assert len(d.call(fn, (1,), [{"doc_id": 1, "text": "a"}], now=1_000)) == 1
    assert d.value == (1_000,) and d.timeout == 61_000
    # a redelivery inside the TTL drops and re-arms the REMAINING time
    assert d.call(fn, (1,), [{"doc_id": 1, "text": "a"}], now=40_000).empty
    assert d.value == (1_000,) and d.timeout == 61_000
    # the timeout removes the admission...
    assert d.call(fn, (1,), [], now=61_000, timed_out=True).empty
    assert d.value is None
    # ...so the next delivery is admitted afresh with a new TTL
    assert len(d.call(fn, (1,), [{"doc_id": 1, "text": "a"}], now=70_000)) == 1
    assert d.timeout == 130_000
    # a redelivery that beats the timeout sweep past the TTL re-admits too
    assert len(d.call(fn, (1,), [{"doc_id": 1, "text": "a"}], now=130_000)) == 1
    assert d.value == (130_000,) and d.timeout == 190_000


# --- funnel abandonment ------------------------------------------------------


def _ev(user, kind, ts):
    return {"user_id": user, "event_type": kind, "ts": ts}


def test_funnel_without_timeout_sets_none():
    f = KeyState()
    out = f.call(_funnel_fn_factory(STEPS), (3,), [_ev(3, "view", 1_000)])
    assert list(out["funnel_stage"]) == [1]
    assert f.value == (1, 1_000) and f.timeout == NO_TS


def test_funnel_deadline_anchors_at_the_first_advance():
    fn = _funnel_fn_factory(STEPS, abandon_timeout_ms=60_000)
    f = KeyState(GroupStateTimeout.EventTimeTimeout)
    # view@1000 and click@50000 in ONE batch: the deadline keys off the
    # stage-1 row (61000), not the last stage reached (110000)
    out = f.call(fn, (7,), [_ev(7, "view", 1_000), _ev(7, "click", 50_000)], wm=0)
    assert list(out["funnel_stage"]) == [1, 2]
    assert f.value == (2, 50_000, 61_000) and f.timeout == 61_000
    # a later call re-arms the same deadline (Spark clears it per call)
    f.call(fn, (7,), [_ev(7, "view", 55_000)], wm=50_000)
    assert f.timeout == 61_000
    fired = f.call(fn, (7,), [], wm=61_001, timed_out=True)
    assert fired.to_dict("records") == [{"user_id": 7, "funnel_stage": -2, "reached_ts": 61_000}]


def test_funnel_abandonment_discards_the_partial_match():
    fn = _funnel_fn_factory(STEPS, abandon_timeout_ms=60_000)
    f = KeyState(GroupStateTimeout.EventTimeTimeout)
    f.call(fn, (9,), [_ev(9, "view", 1_000)], wm=0)
    fired = f.call(fn, (9,), [], wm=61_001, timed_out=True)
    assert list(fired["funnel_stage"]) == [-1] and f.value is None
    # a post-timeout click can NOT advance the dead attempt to stage 2...
    assert f.call(fn, (9,), [_ev(9, "click", 70_000)], wm=61_001).empty
    assert f.timeout == NO_TS
    # ...but a fresh view starts a NEW attempt with a new deadline
    out = f.call(fn, (9,), [_ev(9, "view", 80_000)], wm=61_001)
    assert list(out["funnel_stage"]) == [1] and f.timeout == 140_000


def test_funnel_completed_attempt_never_times_out():
    fn = _funnel_fn_factory(STEPS, abandon_timeout_ms=60_000)
    one = KeyState(GroupStateTimeout.EventTimeTimeout)
    one.call(fn, (2,), [_ev(2, "view", 1_000), _ev(2, "click", 2_000), _ev(2, "purchase", 3_000)], wm=0)
    assert one.timeout == NO_TS
    across = KeyState(GroupStateTimeout.EventTimeTimeout)
    across.call(fn, (5,), [_ev(5, "view", 1_000)], wm=0)
    assert across.timeout == 61_000
    across.call(fn, (5,), [_ev(5, "click", 2_000), _ev(5, "purchase", 3_000)], wm=0)
    assert across.value[0] == 3 and across.timeout == NO_TS


def test_funnel_deadline_behind_the_watermark_fires_next_batch():
    """A deadline the watermark already passed cannot be set (Spark
    rejects a timeout below the watermark); the function arms it just
    past the watermark so the next batch's timeout sweep fires it."""
    fn = _funnel_fn_factory(STEPS, abandon_timeout_ms=60_000)
    f = KeyState(GroupStateTimeout.EventTimeTimeout)
    f.call(fn, (4,), [_ev(4, "view", 1_000)], wm=0)
    f.call(fn, (4,), [_ev(4, "click", 65_000)], wm=70_000)
    assert f.value == (2, 65_000, 61_000) and f.timeout == 70_001
    fired = f.call(fn, (4,), [], wm=70_002, timed_out=True)
    assert fired.to_dict("records") == [{"user_id": 4, "funnel_stage": -2, "reached_ts": 61_000}]

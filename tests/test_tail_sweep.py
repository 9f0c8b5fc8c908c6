"""Tripwire over the committed full-registry timing sweeps
(``scripts/tail_sweep.py`` → ``TAIL_SWEEP_r{N}.json``): any spec that
got >2× slower between the two most recent sweeps — AFTER dividing out
the uniform container-load drift — fails the build until adjudicated
(r13 verdict item 4; the r12 one-off sweep caught two winnow O(n²)
plans exactly this way). The comparison kernel itself
(``tail_sweep.find_movers``) is unit-tested below on synthetic
artifacts so the tripwire's semantics don't wait for a second real
sweep to be exercised."""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from scripts.tail_sweep import find_movers  # noqa: E402

# A spec may legitimately get slower (deliberately heavier parameters,
# a correctness fix that adds work). Adjudicate by listing it here with
# the round pair and reason — the tripwire then skips it for that pair.
ADJUDICATED: dict[tuple[int, int, str], str] = {
    # (prev_round, new_round, spec): "reason" — e.g.
    # (14, 15, "some_spec"): "param N deliberately doubled; plan shape
    # unchanged, paired bench_isolated table in BASELINE.md r15",
    #
    # r14→r15 environment adjudications (OPTIMIZATION_r15.md "tail-sweep
    # artifact" section): four session-4 sweep runs each tripped a
    # DIFFERENT, disjoint set of specs — the signature of multi-minute
    # external load blocks on this container, not plans (r14's rows were
    # taken on a measurably faster box; BASELINE.md r15 drift records).
    (14, 15, "embedding_tau_sweep"): (
        "paired bench_isolated old/new reads 0.85 (IMPROVEMENT) under the "
        "same load windows where the sweep row ballooned; the only r15 "
        "change in its plan path is the literal-plane construction, whose "
        "runtime plan is identical post-constant-folding (BASELINE.md r15 "
        "session-4 paired table)"
    ),
    (14, 15, "media_features"): (
        "untouched all round (no r15 commit reaches operators/multimodal); "
        "quiet-window min-of-3 probe reads 1.02 s vs its r14 row of 2.08 s "
        "— FASTER than r14; the sweep row sampled a load block"
    ),
    (14, 15, "province_stats_sql"): (
        "untouched all round (the r15 province change is in the _approx "
        "audit only); quiet-window min-of-3 probe reads 2.21 s = 1.36x "
        "drift-adjusted, under the 2x gate; the sweep row sampled a load "
        "block"
    ),
    # r15→r16 (sweep on a 4-core box): paired old/new runs on the same box.
    (15, 16, "media_dedup"): (
        "plan path unchanged between the sweeps (no edit reaches "
        "operators/multimodal or embedding_near_dup_lsh); paired "
        "bench_isolated old/new min-of-3 reads 5.37 s / 5.58 s = 1.04 "
        "(drift/noise), and alternating warm min-of-4 probes in one "
        "session each read 2.64, 2.48 s (old) vs 2.68, 2.48 s (new) at "
        "loadavg 1.6-2.9 — the same on both sides, so the 3.28 s sweep row "
        "vs r15's 1.54 s is the environment, not the plan (media_dedup was "
        "already an unchanged-code r16 mover: 1.47 s → 5.88 s in BENCH_r16)"
    ),
}

FLOOR_SEC = 1.0
RATIO_TRIP = 2.0


def _sweeps() -> list[tuple[int, dict]]:
    out = []
    for f in ROOT.glob("TAIL_SWEEP_r*.json"):
        rnd = int(re.search(r"r(\d+)", f.stem).group(1))
        out.append((rnd, json.loads(f.read_text())))
    return sorted(out)


def test_tail_sweep_artifact_exists_for_current_round():
    """Every round commits a sweep: the newest TAIL_SWEEP artifact must
    be at least as recent as the newest CORRECTNESS artifact (the
    previous round's close)."""
    sweeps = _sweeps()
    assert sweeps, "no TAIL_SWEEP_r*.json committed — run scripts/tail_sweep.py"
    corr = [
        int(re.search(r"r(\d+)", f.stem).group(1))
        for f in ROOT.glob("CORRECTNESS_r*.json")
    ]
    assert sweeps[-1][0] >= max(corr), (
        f"latest sweep r{sweeps[-1][0]} predates driver round r{max(corr)}; "
        "run scripts/tail_sweep.py"
    )


def test_no_query_doubled_between_sweeps():
    sweeps = _sweeps()
    if len(sweeps) < 2:
        pytest.skip("fewer than two sweeps committed — nothing to compare")
    (r_prev, prev), (r_new, new) = sweeps[-2], sweeps[-1]
    p, q = prev["queries"], new["queries"]
    assert len(set(p) & set(q)) >= 50, "sweeps share too few specs to compare"
    # Cold-index-build rows (r14 verdict item 3): a row that paid the
    # lazy IVF/PQ first-touch build in EITHER sweep carries build cost,
    # not plan cost — its raw ratio is meaningless (bench.py's warm
    # min-of-3 is the plan-shape tripwire for these; r14 measured
    # filtered_ann_indexed at 8.61 s cold vs 1.75 s warm). Artifacts
    # older than the labeling (r14 and before) lack the field: for the
    # transition pair, the KNOWN r14 cold rows are pinned here so the
    # first labeled comparison stays normalized.
    _R14_KNOWN_COLD = {"filtered_ann_indexed", "ann_recall"}
    cold = set(prev.get("cold_build", _R14_KNOWN_COLD if r_prev == 14 else {})) | set(
        new.get("cold_build", {})
    )
    skip = frozenset(
        n for (rp, rn, n) in ADJUDICATED if (rp, rn) == (r_prev, r_new)
    ) | frozenset(cold)
    median_drift, movers = find_movers(p, q, FLOOR_SEC, RATIO_TRIP, skip)
    assert not movers, (
        f"specs >{RATIO_TRIP}x slower r{r_prev}->r{r_new} after dividing "
        f"out median drift {median_drift:.2f}: {json.dumps(movers, indent=1)}; "
        "fix the plan or adjudicate in ADJUDICATED with a reason"
    )


# --- unit tests of the tripwire kernel on synthetic sweeps -------------------


def test_find_movers_uniform_drift_cancels():
    """A container-load round (everything ×1.3) must trip NOTHING: the
    median ratio absorbs it — this is exactly the BENCH_r13 pattern the
    r13 verdict called out (uniform 1.05-1.31× on untouched queries)."""
    prev = {f"q{i}": 0.5 + i * 0.1 for i in range(60)}
    new = {n: t * 1.3 for n, t in prev.items()}
    drift, movers = find_movers(prev, new)
    assert abs(drift - 1.3) < 1e-9
    assert movers == {}


def test_find_movers_trips_a_real_regression_through_drift():
    """One spec going quadratic (×8) while the fleet drifts ×1.2 must
    trip on THAT spec alone, with the drift divided out."""
    prev = {f"q{i}": 1.0 for i in range(60)}
    new = {n: 1.2 for n in prev}
    new["q7"] = 8.0
    drift, movers = find_movers(prev, new)
    assert list(movers) == ["q7"]
    assert movers["q7"]["drift_adjusted"] == pytest.approx(8.0 / 1.2, abs=0.01)


def test_find_movers_floor_masks_subsecond_noise_and_skip_applies():
    """A 0.1 s → 0.5 s 'regression' is startup noise below the floor —
    not a trip; an adjudicated spec above the floor is skipped."""
    prev = {f"q{i}": 1.0 for i in range(60)}
    prev["tiny"] = 0.1
    new = dict(prev)
    new["tiny"] = 0.5  # 5x but new < FLOOR_SEC
    _, movers = find_movers(prev, new)
    assert movers == {}
    new["big"] = prev["big"] = 2.0
    new["big"] = 9.0
    _, movers = find_movers(prev, new)
    assert list(movers) == ["big"]
    _, movers = find_movers(prev, new, skip=frozenset({"big"}))
    assert movers == {}


def test_find_movers_new_specs_and_zero_times_are_ignored():
    prev = {"a": 1.0, "z": 0.0}
    new = {"a": 1.1, "b": 50.0, "z": 5.0}  # b has no prev; z prev=0
    _, movers = find_movers(prev, new)
    assert movers == {}

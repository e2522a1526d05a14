"""Unit pins for bench.py's host-normalization policy (round 12):
``host_factor`` is the cross-round interpretation key for every BENCH
artifact, so its semantics — changed-query exclusion, noise floor,
minimum sample size, median robustness — are pinned here rather than
trusted to live runs."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import _cpu_counters, canary_decide, host_factor_for  # noqa: E402


def test_median_over_unchanged_queries():
    warm = {f"q{i}": 2.0 for i in range(12)}
    prev = {f"q{i}": 1.0 for i in range(12)}
    hf, n = host_factor_for(warm, prev, changed=[])
    assert (hf, n) == (2.0, 12)


def test_changed_queries_excluded_and_min_n_enforced():
    warm = {f"q{i}": 2.0 for i in range(12)}
    prev = {f"q{i}": 1.0 for i in range(12)}
    # excluding three changed queries drops the sample below min_n=10
    hf, n = host_factor_for(warm, prev, changed=["q0", "q1", "q2"])
    assert hf is None and n == 9
    # a regressed CHANGED query cannot drag the estimate at all
    warm["q0"] = 50.0
    hf, n = host_factor_for(
        warm, prev, changed=["q0"], min_n=5
    )
    assert hf == 2.0 and n == 11


def test_single_outlier_cannot_move_the_median():
    warm = {f"q{i}": 1.0 for i in range(11)}
    prev = {f"q{i}": 1.0 for i in range(11)}
    warm["q5"] = 40.0  # one unchanged query went wild (GC pause, etc.)
    hf, _n = host_factor_for(warm, prev, changed=[])
    assert hf == 1.0


def test_noise_floor_and_missing_queries_skipped():
    warm = {f"q{i}": 0.3 for i in range(20)}
    prev = {f"q{i}": 0.1 for i in range(20)}  # all under the floor
    hf, n = host_factor_for(warm, prev, changed=[])
    assert hf is None and n == 0
    prev = {f"q{i}": 0.2 for i in range(20)}  # at the floor: counted
    hf, n = host_factor_for(warm, prev, changed=[])
    assert hf == 1.5 and n == 20
    # queries absent from either side are simply not comparable
    hf, n = host_factor_for(
        {"a": 1.0}, {"b": 1.0}, changed=[], min_n=1
    )
    assert hf is None and n == 0


def test_even_sample_averages_middle_pair():
    warm = {f"q{i}": float(i + 1) for i in range(10)}
    prev = {f"q{i}": 1.0 for i in range(10)}
    hf, n = host_factor_for(warm, prev, changed=[])
    assert n == 10 and hf == 5.5  # (5 + 6) / 2


REF = 4.0


def test_canary_green_run_keeps_pin_and_resets_streak():
    v = canary_decide(REF, 4.1, 4.2, 1.0, prev_streak=2)
    assert v == {
        "ok": True, "explained": False,
        "explained_streak": 0, "new_ref": REF,
    }


def test_canary_red_unexplained_resets_streak():
    # canary 2x slow while the suite stayed flat: a q45 regression
    v = canary_decide(REF, 8.0, 8.0, 1.0, prev_streak=2)
    assert not v["ok"] and not v["explained"]
    assert v["explained_streak"] == 0 and v["new_ref"] == REF


def test_canary_red_explained_by_this_rounds_host_factor():
    # the whole suite slowed 1.4x this round; canary followed it
    v = canary_decide(REF, 5.6, 5.7, 1.4)
    assert not v["ok"] and v["explained"]
    assert v["explained_streak"] == 1 and v["new_ref"] == REF


def test_canary_inherited_red_chains_previous_ratio_same_pin_only():
    # epoch shifted in an EARLIER round: suite flat vs last run
    # (host_factor 1.0) but the last run was already 1.3x red on the
    # SAME pin — inherited, explained
    v = canary_decide(
        REF, 5.2, 5.3, 1.0,
        prev_ref=REF, prev_ratio=1.3, prev_streak=1,
    )
    assert v["explained"] and v["explained_streak"] == 2
    # same numbers but the pin CHANGED since: the chain breaks
    v = canary_decide(
        REF, 5.2, 5.3, 1.0,
        prev_ref=3.0, prev_ratio=1.3, prev_streak=1,
    )
    assert not v["explained"] and v["explained_streak"] == 0


def test_canary_third_explained_red_repins_to_current_epoch():
    v = canary_decide(
        REF, 5.6, 5.7, 1.4, prev_ref=REF, prev_ratio=1.4,
        prev_streak=2,
    )
    assert v["explained"]
    assert v["new_ref"] == 5.6 and v["explained_streak"] == 0


def test_canary_no_host_factor_never_explains():
    v = canary_decide(REF, 5.6, 5.7, None, prev_streak=2)
    assert not v["explained"] and v["explained_streak"] == 0


def test_canary_ratchet_down_passthrough_not_overridden():
    # the caller resolved the two-consecutive-fast rule to a lower pin
    v = canary_decide(REF, 3.0, 3.1, 1.0, ratchet_down_ref=3.2)
    assert v["ok"] and v["new_ref"] == 3.2


def test_canary_noisy_slot_on_flat_host_not_explained():
    """Round-13 advice: slot probe red, end probe green, host flat
    (factor ~1, no inherited ratio) — noise, never 'explained', the
    streak must not advance (three such runs used to ratchet the pin
    up to an outlier slot reading)."""
    v = canary_decide(REF, 4.6, 4.1, 1.0, prev_streak=2)
    assert not v["ok"] and not v["explained"]
    assert v["explained_streak"] == 0 and v["new_ref"] == REF
    # a barely-above-1 factor is still 'flat' (threshold 1.05)
    v = canary_decide(REF, 4.6, 4.1, 1.03, prev_streak=2)
    assert not v["explained"] and v["explained_streak"] == 0


def test_canary_third_explained_red_repins_to_best_probe():
    """Round-13 advice: the epoch re-pin takes min(measured,
    end_measured), so an outlier SLOT reading cannot become the pin."""
    v = canary_decide(
        REF, 5.8, 5.6, 1.4, prev_ref=REF, prev_ratio=1.4,
        prev_streak=2,
    )
    assert v["explained"] and v["explained_streak"] == 0
    assert v["new_ref"] == 5.6  # the best probe, not the slot


def test_cpu_counters_total_excludes_guest_time(tmp_path):
    """The aggregate cpu line is user nice system idle iowait irq
    softirq steal guest guest_nice; the kernel already counts guest
    and guest_nice inside user and nice, so the total stops at steal."""
    stat = tmp_path / "stat"
    stat.write_text(
        "cpu  100 20 30 400 5 6 7 8 50 10\n"
        "cpu0 25 5 7 100 1 1 2 2 12 3\n"
    )
    assert _cpu_counters(str(stat)) == (8, 576)
    assert _cpu_counters(str(tmp_path / "missing")) is None

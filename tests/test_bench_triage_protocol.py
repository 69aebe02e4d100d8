"""Probe-normalized bench-triage protocol (r12 verdict #1).

BENCH_r12 demonstrated the failure mode: the driver's bench ran on a
host 35% slower than the committed artifact's (probe 0.146 -> 0.197),
20 untouched sim/sketch queries crossed the raw >30% threshold, and
the fresh-session re-measure — equally slowed, compared against an
unadjusted prior — marked every one `reproduced: true`. The protocol
now (a) scales the flag threshold by the probe ratio, (b) judges the
isolated median against the probe-scaled prior, and (c) refuses a
verdict outright when the isolated probe drifted >20% from the
committed one. These tests replay the EXACT r12 numbers (committed
quiet-host artifact at 60304c5, probe 0.1461; driver run probe 0.1967)
and assert the required outcome: zero `reproduced: true` entries on
untouched code.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import committed_timing, is_regression, probe_ratio, triage_verdict

#: (name, prior_sec, main_sec, isolated_sec) from the r12 driver run's
#: committed triage block (git show 9970f58:BENCH_LOCAL.json) — every
#: row was marked reproduced:true by the old protocol and adjudicated
#: host drift by the judge (VERDICT r12, What's wrong #1).
R12_PRIOR_PROBE = 0.1461
R12_MAIN_PROBE = 0.1967
R12_ROWS = [
    ("sim_graph_recall", 0.8215, 5.2723, 2.2822),
    ("sim_ivf_nprobe_curve", 1.6702, 4.5330, 7.1412),
    ("sim_domain_drift", 1.0298, 2.6254, 1.5176),
    ("sim_centroid_confusion", 1.2742, 2.6687, 1.8608),
    ("sim_ivf_kmeans", 0.2924, 1.6305, 0.5879),
    ("sim_ivf_recall", 1.5194, 2.7056, 5.0343),
]


def test_r12_replay_produces_zero_reproduced_entries():
    """The verdict's done-criterion: the r12 scenario (committed
    quiet-host artifact, 35%-slower driver host) must yield NO
    `reproduced: true` on untouched code — the isolated probe drifted
    1.35x, so every verdict is indeterminate (None), never an
    authoritative true."""
    for name, prior, _main, iso in R12_ROWS:
        reproduced, reason = triage_verdict(
            prior, R12_PRIOR_PROBE, iso, R12_MAIN_PROBE
        )
        assert reproduced is None, (name, reproduced, reason)
        assert "indeterminate" in reason


def test_probe_scaled_flagging_drops_pure_host_drift():
    """A query exactly tracking whole-host drift (sec = prior x probe
    ratio) never flags; one 2x over the SCALED prior still does."""
    ratio = probe_ratio(R12_MAIN_PROBE, R12_PRIOR_PROBE)  # ~1.35
    assert 1.3 < ratio < 1.4
    assert not is_regression(1.0298 * ratio, 1.0298, ratio)
    assert is_regression(1.0298 * ratio * 2, 1.0298, ratio)


def test_verdict_on_stable_host_still_catches_real_regressions():
    """With probes matched (<20% drift) the protocol must still call a
    genuinely reproduced slowdown true, and a non-reproducing one
    false — normalization must not neuter detection."""
    rep, reason = triage_verdict(1.0, 0.15, 2.5, 0.155)  # 2.5x, host flat
    assert rep is True and "reproduced" in reason
    rep, _ = triage_verdict(1.0, 0.15, 1.05, 0.155)  # recovered in isolation
    assert rep is False


#: the r13 committed artifact's cdc_compact triage entry, verbatim
#: (git show 3e83914:BENCH_LOCAL.json) — the verdict was correctly
#: indeterminate (isolated compute probe drifted 1.26x), but the OLD
#: commit rule still wrote the 5.4964s isolated median, measured on a
#: host whose shuffle probe was 3.2x the main session's, into the
#: canonical artifact over the 1.2227s main-session value (r13 verdict
#: "What's wrong" #1: +2.07s of fiction across 9 such entries).
R13_CDC_COMPACT = {
    "prior_sec": 0.8308,
    "prior_probe_sec": 0.191,
    "prior_probe_shuffle_sec": None,  # pre-shuffle-probe artifact
    "main_sec": 1.2227,
    "iso_sec": 5.4964,
    "iso_probe_sec": 0.2596,
    "iso_probe_shuffle_sec": 3.3696,
}


def test_r13_cdc_compact_replay_commits_the_main_session_value():
    """r13 verdict #1's done-criterion: replaying the exact r13
    cdc_compact numbers, the verdict is indeterminate (isolated probe
    1.36x the prior's) and the COMMITTED value is the main session's
    1.2227s — the phantom 5.50s isolated median stays in the triage
    block only."""
    e = R13_CDC_COMPACT
    reproduced, reason = triage_verdict(
        e["prior_sec"],
        e["prior_probe_sec"],
        e["iso_sec"],
        e["iso_probe_sec"],
        e["prior_probe_shuffle_sec"],
        e["iso_probe_shuffle_sec"],
    )
    assert reproduced is None and "indeterminate" in reason
    assert committed_timing(e["main_sec"], e["iso_sec"], reproduced) == e["main_sec"]


def test_committed_timing_policy():
    """Isolated median committed ONLY on reproduced is True; main kept
    on both False (recovered in isolation — main is noisy-high, the
    conservative direction) and None (host drifted — isolated was
    measured on a different machine state)."""
    assert committed_timing(1.22, 5.50, True) == 5.50
    assert committed_timing(1.22, 5.50, False) == 1.22
    assert committed_timing(1.22, 5.50, None) == 1.22
    assert committed_timing(1.22, 0.60, None) == 1.22  # fiction cuts both ways


#: the r13 DRIVER capture's triage block, verbatim (git show
#: ec6a757:BENCH_LOCAL.json): six `reproduced: true` flags issued from
#: an isolated session whose COMPUTE probe matched the committed
#: artifact within 2% (0.2097 vs 0.2061) while its SHUFFLE probe was
#: 2.4x it (2.5204 vs 1.0469). BASELINE.md's r13 "known probe blind
#: spot" note records the A-B-A re-measure disproving the flags —
#: HEAD measured FASTER than the pre-change commit once the shuffle
#: burst passed. (name, prior_sec, isolated_sec) rows.
R13_SHUFFLE_PRIOR_PROBE = 0.2061
R13_SHUFFLE_PRIOR_SHUFFLE = 1.0469
R13_SHUFFLE_ISO_PROBE = 0.2097
R13_SHUFFLE_ISO_SHUFFLE = 2.5204
R13_SHUFFLE_ROWS = [
    ("q5_local_supplier", 0.7818, 2.7626),
    ("customer_pareto", 0.875, 3.1287),
    ("time_autocorr", 0.3508, 0.531),
    ("q7_nation_volume", 0.8161, 1.524),
    ("dedup_keep_best", 0.3248, 0.651),
    ("window_first_last", 0.4947, 0.6588),
]


def test_r13_shuffle_drift_replay_refuses_every_verdict():
    """r13 verdict #2's done-criterion: the r13 driver-capture
    scenario — would-be `reproduced: true` flags from a session whose
    shuffle probe drifted 2.4x at a matched compute probe — must now
    yield None ("indeterminate: ... shuffle probe ...") for every
    row."""
    for name, prior, iso in R13_SHUFFLE_ROWS:
        # the old (compute-only) gate would have affirmed these
        old, _ = triage_verdict(
            prior, R13_SHUFFLE_PRIOR_PROBE, iso, R13_SHUFFLE_ISO_PROBE
        )
        assert old is not None, name
        reproduced, reason = triage_verdict(
            prior,
            R13_SHUFFLE_PRIOR_PROBE,
            iso,
            R13_SHUFFLE_ISO_PROBE,
            R13_SHUFFLE_PRIOR_SHUFFLE,
            R13_SHUFFLE_ISO_SHUFFLE,
        )
        assert reproduced is None, (name, reproduced, reason)
        assert "shuffle probe" in reason, (name, reason)
        # and the commit rule keeps the main-session value
        assert committed_timing(prior, iso, reproduced) == prior


def test_threshold_scales_by_max_of_both_ratios():
    """Within the accepted drift band, a query tracking the WORSE of
    the two host dimensions (e.g. shuffle 1.18x at compute 1.02x) is
    not called reproduced; a real 2x-over-scaled-prior still is."""
    rep, _ = triage_verdict(1.0, 0.20, 1.18 * 1.25, 0.204, 1.00, 1.18)
    assert rep is False  # 1.25x over the shuffle-scaled prior < 1.30 bar
    rep, _ = triage_verdict(1.0, 0.20, 2.36, 0.204, 1.00, 1.18)
    assert rep is True  # 2x over the shuffle-scaled prior


def test_missing_shuffle_probes_degrade_to_compute_gate():
    """Artifacts predating the shuffle probe (prior_probe_shuffle is
    None) must not suppress verdicts — the gate degrades to the
    compute probe alone, the r13 behavior."""
    rep, _ = triage_verdict(1.0, 0.15, 2.5, 0.155, None, 2.5204)
    assert rep is True
    rep, _ = triage_verdict(1.0, 0.15, 2.5, 0.155, 1.0469, None)
    assert rep is True


def test_missing_probes_degrade_to_raw_threshold():
    """Artifacts predating the probe (or a failed probe) fall back to
    ratio 1.0 — the pre-r13 behavior — instead of crashing or
    suppressing every verdict."""
    assert probe_ratio(None, 0.15) == 1.0
    assert probe_ratio(0.15, None) == 1.0
    rep, _ = triage_verdict(1.0, None, 2.5, 0.15)
    assert rep is True


def test_r15_untouched_control_replay_refuses_verdicts():
    """Pinned replay of the r15 driver capture's blind spot (r15
    verdict #2/#4): its start-of-session probes were the FASTEST of
    any r15 capture (compute 0.164 vs the committed 0.178 — well
    inside the 20% probe band) while UNTOUCHED queries read 4-6x their
    stable values (dq_corpus_integrity 4.44 s vs 0.71; dedup_cross_
    corpus 3.43 vs 0.55). With controls co-measured, the median
    control drift is the evidence the probes missed — every verdict
    from that session must be refused, not stamped `reproduced`."""
    from bench import control_drift

    prior = {"dq_corpus_integrity": 0.71, "dedup_cross_corpus": 0.55,
             "window_lag_lead": 0.25}
    iso_controls = {"dq_corpus_integrity": 4.44, "dedup_cross_corpus": 3.43,
                    "window_lag_lead": 0.52}
    ctl = control_drift(prior, iso_controls)
    assert ctl is not None and ctl > 2.0
    # flagged query: customer_pareto read 2.85 vs prior 0.87 in that
    # capture — a would-be `reproduced: true` under matched probes
    rep, reason = triage_verdict(0.87, 0.178, 2.85, 0.164, 0.809, 0.718, ctl)
    assert rep is None
    assert "controls drifted" in reason


def test_control_drift_needs_two_controls_and_tolerates_one_flake():
    from bench import control_drift

    prior = {"a": 1.0, "b": 1.0, "c": 1.0}
    # fewer than two matched controls -> no gate (None)
    assert control_drift(prior, None) is None
    assert control_drift(prior, {"a": 5.0}) is None
    assert control_drift(prior, {"zzz": 5.0, "yyy": 5.0}) is None
    # median of three is robust to ONE flaky control
    assert control_drift(prior, {"a": 1.05, "b": 0.97, "c": 9.0}) == 1.05
    # ... and a genuinely drifted session still reads drifted
    assert control_drift(prior, {"a": 4.0, "b": 5.0, "c": 6.0}) == 5.0


def test_control_gate_inert_within_band_and_on_missing_controls():
    """A real regression on a quiet host (controls near 1.0, probes
    matched) must still be called reproduced; old-artifact runs with
    no controls keep the r14 behavior exactly."""
    rep, _ = triage_verdict(1.0, 0.20, 2.5, 0.20, 0.80, 0.80, 1.05)
    assert rep is True
    rep, _ = triage_verdict(1.0, 0.20, 2.5, 0.20, 0.80, 0.80, None)
    assert rep is True


def test_pick_controls_deterministic_unflagged_spread():
    from bench import pick_controls

    prior = {f"q{i:02d}": 0.1 * (i + 1) for i in range(20)}
    flagged = {"q05", "q10", "q15"}
    picks = pick_controls(prior, flagged)
    assert picks == pick_controls(prior, flagged)  # deterministic
    assert len(picks) == 3
    assert not set(picks) & flagged  # never a flagged query
    # spread: one pick per cost-percentile band, strictly increasing cost
    costs = [prior[p] for p in picks]
    assert costs == sorted(costs) and costs[0] < costs[-1]
    assert pick_controls({}, set()) == []

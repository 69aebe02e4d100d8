#!/usr/bin/env python
"""Benchmark runner: executes the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop sink (no driver collect),
so timings include the full scan->shuffle->sink path the way a cluster
run would.

The JSON line is the LAST line of stdout and is also written to
BENCH_LOCAL.json: the driver tail-truncates captured output, and the
r2/r3 artifacts lost their head (and the parsed total) to Spark
console-progress noise — so progress bars are disabled and everything
else stays on stderr.

TRIAGE PROTOCOL (r11 verdict #1 — phantom regressions burnt two
consecutive rounds of attribution; r12 verdict #1 — the first version
of this protocol then false-flagged whole-host drift as reproduced
regressions): after the main per-query medians, any query >30% slower
(and >0.15s absolute) than the last COMMITTED artifact (`git show
HEAD:BENCH_LOCAL.json`) — with the threshold PROBE-NORMALIZED, see
below — is RE-MEASURED in a fresh interpreter (``remeasure`` in a
spawn-context process — own JVM, parent session stopped first,
identical 1-warmup + median-of-3 protocol). A real regression (plan
change, new shuffle) reproduces there; session-state noise (heap
shape, GC pressure accumulated over a 215-query run — demonstrated to
swing untouched queries up to 2x on this host) does not.

PROBE NORMALIZATION (r12 verdict #1, extended r14 per r13 verdict #2):
TWO machine-state probes (``host_probes``: a pure-JVM compute workload
and a shuffle-flavored one — fixed synthetic workloads, measured by
this run, by the triage process, and recorded in every committed
artifact) calibrate whole-host drift. BENCH_r12 demonstrated the
compute-side failure mode: a 35% slower host (probe 0.146 -> 0.197)
pushed 20 untouched queries over the raw 30% threshold and the
fresh-session re-measure — equally slowed, compared against an
unadjusted prior — marked every one `reproduced: true`. BENCH_r13's
driver capture then demonstrated the shuffle-side blind spot: six
`reproduced: true` flags from an isolated session whose COMPUTE probe
matched the committed artifact within 2% while its SHUFFLE probe was
2.4x it — exchange-bound queries co-move with the shuffle path, and
an A-B-A re-measure disproved every flag. Now (a) the flag threshold
scales by the MAX of (this run's / committed artifact's) compute and
shuffle probe ratios, so neither flavor of whole-host slowdown flags
anything by itself; (b) the `reproduced` verdict compares the
ISOLATED median against the probe-scaled prior using the ISOLATED
session's own probes; and (c) when EITHER isolated probe moved >20%
from the committed one, `reproduced` is null ("indeterminate: host
drift") — the protocol refuses to issue an authoritative-looking flag
from a machine in a different state. Every triage entry records all
six probes so a reader can re-derive the verdict.

The committed per-query value for a flagged query is the ISOLATED
median ONLY when `reproduced` is True (r13 verdict #1: committing the
isolated median on an indeterminate verdict wrote a phantom 5.50s
cdc_compact — measured on a host the protocol itself had just declared
drifted — over a 1.22s main-session reading). On indeterminate or
not-reproduced verdicts the MAIN-session value stands: it is the one
measured under the probes the artifact's top level records. Both
values always stay in the "triage" block. Triage only compares
against a committed artifact taken at the same sf AND core count
(``comparable_prior``). Disable with SPARK_GRAFT_BENCH_TRIAGE=0 (e.g.
for quick iteration runs).

The measurement steps every tool shares live here, once: ``warm_up``
(table footers and Python workers), ``host_probes`` and ``time_query``
(the per-query median).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, *sf_dirs: str) -> None:
    """Warm the JVM, codegen and parquet footers (every table of each
    of ``sf_dirs``) and the Python UDF workers (one per core), so the
    first timed query measures the query, not session startup or worker
    fork+import."""
    from pipe_s_spark.sources import TABLES, load_table

    for sf_dir in sf_dirs:
        for t in TABLES:
            _noop(load_table(spark, sf_dir, t))
    _noop(
        spark.range(256)
        .repartition(int(spark.sparkContext.defaultParallelism))
        .mapInPandas(lambda it: it, schema="id long")
    )


def host_probes(spark) -> dict[str, float]:
    """The two machine-state calibration probes, each one warm-up run
    then the min of 3: fixed synthetic workloads whose cost is
    independent of the query surface. Two same-code bench runs an hour
    apart have shown a SYSTEMATIC ~14% whole-run drift (thermal / cache
    / background state) that per-query repeats cannot remove; recording
    the probes lets a reader separate "the machine was slower" from "a
    query regressed". ``probe_sec`` is pure JVM arithmetic;
    ``probe_shuffle_sec`` (r13) is a fixed groupBy over a synthetic key
    (exchange write/read + hash agg), because the compute probe missed
    host bursts that hit shuffle/Arrow-heavy queries 2-3x while it moved
    <5% (three spurious `reproduced` flags, disproved by A-B-A)."""

    def best(build) -> float:
        def once() -> float:
            t0 = time.perf_counter()
            _noop(build())
            return time.perf_counter() - t0

        once()  # warm
        return round(min(once() for _ in range(3)), 4)

    return {
        "probe_sec": best(
            lambda: spark.range(50_000_000).selectExpr("sum(id * 3 + 1) as s")
        ),
        "probe_shuffle_sec": best(
            lambda: spark.range(8_000_000)
            .selectExpr("id % 1000000 as k", "id as v")
            .groupBy("k")
            .agg({"v": "sum"})
        ),
    }


def time_query(spark, query, sf_dir: str, after_warmup=None) -> float:
    """MEDIAN seconds of post-warmup repeats of one registered query
    (r7 verdict: min-of-3 totals still swung ±20% run-to-run, leaving
    real <1.4x regressions unattributable). The first execution pays
    one-off codegen/GC spikes unrelated to the plan (a 5-run r4
    re-measure of window_range_frame: [1.76, 0.64, 0.54, 0.43, 0.38] —
    even run 2 can be 1.7x steady state), so it is DISCARDED as warmup
    and ``after_warmup()`` runs right after it. The median of the rest
    is robust to a single residual spike in either direction, unlike
    min (which understates queries whose typical run is slow) or mean
    (which a single GC pause drags). SPARK_GRAFT_BENCH_RUNS counts
    TOTAL executions (default 4 = 1 warmup + median of 3)."""
    runs = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "4")))
    samples: list[float] = []
    for i in range(runs):
        t0 = time.perf_counter()
        _noop(query(spark, sf_dir))
        samples.append(time.perf_counter() - t0)
        if i == 0 and after_warmup is not None:
            after_warmup()
    return round(statistics.median(samples[1:]), 4)


def comparable_prior(prior: dict, sf: float, cores: int) -> bool:
    """Whether triage may compare this run against ``prior``: only an
    artifact taken at the same scale and the same core count. A prior
    that does not record ``cores`` (every artifact before the key
    existed was taken at 32 cores) is not comparable."""
    return prior.get("sf") == sf and prior.get("cores") == cores


def _prior_committed_artifact(
    sf: float, cores: int
) -> tuple[dict[str, float], float | None, float | None]:
    """(per-query seconds, probe_sec, probe_shuffle_sec) from the last
    COMMITTED artifact (HEAD) — the reference the triage threshold
    compares against. Missing file / no git / other sf or core count
    -> empty (triage silently skips)."""
    import subprocess

    try:
        res = subprocess.run(
            ["git", "show", "HEAD:BENCH_LOCAL.json"],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            timeout=30,
        )
        if res.returncode != 0:
            return {}, None, None
        prior = json.loads(res.stdout)
        if not comparable_prior(prior, sf, cores):
            return {}, None, None
        return (
            dict(prior.get("queries", {})),
            prior.get("probe_sec"),
            prior.get("probe_shuffle_sec"),
        )
    except Exception:  # noqa: BLE001 — triage is best-effort, never fatal
        return {}, None, None


def probe_ratio(now_probe: float | None, prior_probe: float | None) -> float:
    """Whole-host speed ratio between two runs, from their machine
    probes (>1 = host is slower now). 1.0 when either probe is missing
    (old artifacts) — normalization degrades to the raw threshold."""
    if not now_probe or not prior_probe:
        return 1.0
    return now_probe / prior_probe


def is_regression(
    sec: float, prior_sec: float, ratio: float, rel: float = 1.30, abso: float = 0.15
) -> bool:
    """Probe-normalized regression test: ``sec`` against the prior
    scaled by the host-speed ratio. The raw form (ratio=1) flagged 20
    untouched queries in BENCH_r12 purely because the host was 35%
    slower."""
    scaled = prior_sec * ratio
    return sec > rel * scaled and sec - scaled > abso


#: isolated-probe drift beyond which the triage refuses a verdict: a
#: fresh session on a host whose probe moved this much from the
#: committed artifact's is measuring a different machine state, and
#: any reproduced/not-reproduced call from it would be noise with an
#: authoritative flag attached (exactly BENCH_r12's failure).
TRIAGE_PROBE_DRIFT_MAX = 0.20

#: untouched-control drift beyond which the triage refuses a verdict
#: (r15 verdict #2/#4): the synthetic probes are blind to host states
#: that only hit real query machinery — the r15 driver capture read
#: UNTOUCHED queries at 4-6x their stable values (dq_corpus_integrity
#: 4.44 s vs 0.71-0.75) under the fastest probes of the round. The
#: gate compares the MEDIAN ratio of co-measured unflagged control
#: queries against the committed artifact; real queries are noisier
#: than the probes, so the band is wider than TRIAGE_PROBE_DRIFT_MAX
#: but far below the 4-6x phantom band it exists to catch.
TRIAGE_CONTROL_DRIFT_MAX = 0.35

#: controls co-measured per triage run (cost-percentile picks).
TRIAGE_N_CONTROLS = 3


def pick_controls(
    prior: dict[str, float], flagged: set[str], k: int = TRIAGE_N_CONTROLS
) -> list[str]:
    """Deterministic untouched-control picks: the UNFLAGGED prior-
    artifact queries sitting at the 25th/50th/75th cost percentiles —
    spread across the cost spectrum so one hot cache line can't make
    all controls agree, deterministic so two runs of the same round
    measure the same controls."""
    cands = sorted((n for n in prior if n not in flagged), key=lambda n: (prior[n], n))
    if not cands:
        return []
    picks: list[str] = []
    for j in range(k):
        frac = (j + 1) / (k + 1)
        name = cands[min(len(cands) - 1, int(frac * len(cands)))]
        if name not in picks:
            picks.append(name)
    return picks


def control_drift(
    prior: dict[str, float], iso_controls: dict[str, float] | None
) -> float | None:
    """Median iso/prior ratio over the co-measured controls, or None
    when fewer than two controls have a prior (median of >=2 is robust
    to one flaky control; a single control is no evidence)."""
    if not iso_controls:
        return None
    ratios = [
        iso_controls[n] / prior[n]
        for n in iso_controls
        if n in prior and prior[n] and iso_controls[n] is not None
    ]
    if len(ratios) < 2:
        return None
    return statistics.median(ratios)


def triage_verdict(
    prior_sec: float,
    prior_probe: float | None,
    iso_sec: float,
    iso_probe: float | None,
    prior_probe_shuffle: float | None = None,
    iso_probe_shuffle: float | None = None,
    ctl_ratio: float | None = None,
) -> tuple[bool | None, str]:
    """(reproduced, reason) for one flagged query's isolated re-measure.
    ``None`` = indeterminate: EITHER of the isolated session's probes
    (pure-JVM compute, shuffle) drifted >TRIAGE_PROBE_DRIFT_MAX from
    the committed artifact's, so the comparison is host-state, not
    plan. The shuffle probe entered the gate in r14: BENCH_r13's
    driver capture issued six `reproduced: true` from a session whose
    compute probe matched the committed artifact within 2% while its
    SHUFFLE probe was 2.4x it — exchange-bound queries track the
    shuffle probe, not the compute one (BASELINE.md "known probe blind
    spot"), and an A-B-A re-measure disproved every flag. Within the
    accepted band the threshold scales by the max of the two ratios.

    r16 (verdict #2): ``ctl_ratio`` — the median drift of co-measured
    UNTOUCHED control queries (see control_drift) — is a third gate.
    Probes are synthetic and have missed host states that spike only
    real query machinery (r15: untouched queries at 4-6x under
    record-fast probes); when the controls themselves moved more than
    TRIAGE_CONTROL_DRIFT_MAX, any verdict on the flagged query would
    attribute host state to code, so the triage refuses."""
    r_c = probe_ratio(iso_probe, prior_probe)
    if iso_probe and prior_probe and abs(r_c - 1.0) > TRIAGE_PROBE_DRIFT_MAX:
        return None, f"indeterminate: isolated probe drifted {r_c:.2f}x vs committed"
    r_s = probe_ratio(iso_probe_shuffle, prior_probe_shuffle)
    if (
        iso_probe_shuffle
        and prior_probe_shuffle
        and abs(r_s - 1.0) > TRIAGE_PROBE_DRIFT_MAX
    ):
        return None, (
            f"indeterminate: isolated shuffle probe drifted {r_s:.2f}x vs committed"
        )
    if ctl_ratio is not None and abs(ctl_ratio - 1.0) > TRIAGE_CONTROL_DRIFT_MAX:
        return None, (
            f"indeterminate: untouched controls drifted {ctl_ratio:.2f}x vs committed"
        )
    rep = is_regression(iso_sec, prior_sec, max(r_c, r_s))
    return rep, ("reproduced in fresh session" if rep else "not reproduced")


def committed_timing(main_sec: float, iso_sec: float, reproduced: bool | None) -> float:
    """Which of the two measurements the artifact commits for a triaged
    query: the ISOLATED median only on an affirmative `reproduced`
    verdict; otherwise the MAIN-session value — the one measured under
    the host state the artifact's top-level probes record (r13 verdict
    #1: committing the isolated median on an indeterminate verdict put
    a phantom 5.50s cdc_compact, from a session whose shuffle probe was
    3.2x the main run's, into the canonical artifact over a 1.22s
    main-session reading)."""
    return iso_sec if reproduced is True else main_sec


def _session(app_name: str):
    from pipe_s_spark.session import get_spark

    # progress bars write \r-framed noise to stdout and have twice cost
    # a captured artifact its JSON head (BENCH_r02/r03)
    spark = get_spark(
        app_name=app_name, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def remeasure(sf_dir: str, names: list[str], controls: list[str]) -> dict:
    """The isolated half of the triage: a new session re-times ``names``
    with the main run's warm-up and per-query protocol, and measures its
    own host probes, so the caller can probe-normalize the isolated
    medians against the committed artifact — and refuse a verdict when
    this session's host state differs too much from the one the prior
    was measured on (r12 verdict #1: the un-normalized protocol marked
    20 host-drift entries `reproduced: true`). Returns {name: sec} plus
    the probes under "_probe_sec"/"_probe_shuffle_sec" and the
    ``controls`` (r16 verdict #2: UNTOUCHED queries co-measured the same
    way, a real-query drift signal the synthetic probes are blind to)
    under "_controls"."""
    spark = _session("bench_triage")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    warm_up(spark, sf_dir)
    out: dict = {f"_{k}": v for k, v in host_probes(spark).items()}
    for name in names:
        out[name] = time_query(spark, qs[name], sf_dir)
    if controls:
        out["_controls"] = {c: time_query(spark, qs[c], sf_dir) for c in controls if c in qs}
    spark.stop()
    return out


def _run_triage(sf_dir: str, names: list[str], controls: list[str]) -> dict:
    """``remeasure`` in a fresh interpreter: a spawn-context process
    starts its own JVM, so session state accumulated over the main run
    (heap shape, GC pressure, codegen cache) cannot reach it. Empty on
    any failure."""
    import multiprocessing

    try:
        with multiprocessing.get_context("spawn").Pool(1) as pool:
            return pool.apply_async(remeasure, (sf_dir, names, controls)).get(timeout=1200)
    except Exception as e:  # noqa: BLE001 — triage is best-effort, never fatal
        print(f"triage skipped: {e}", file=sys.stderr)
        return {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    cores = len(os.sched_getaffinity(0))

    spark = _session("pipe_s_spark_bench")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    warm_up(spark, sf_dir)
    probes = host_probes(spark)
    probe_sec, probe_shuffle_sec = probes["probe_sec"], probes["probe_shuffle_sec"]

    from pipe_s_spark.functions import shared as SH

    timings: dict[str, float] = {}
    # per-query shared-cache attribution (r8 verdict: a ×1.54 swing on
    # dedup_ensemble could not be attributed because the artifact did
    # not say whether the query PAID a signature/pair-table build or
    # got it memoized). built_warmup keys are invisible in the median
    # (the warmup run is discarded); built_timed keys are NOT — a
    # non-empty built_timed means the reported median includes a cache
    # build (e.g. FIFO eviction forced a rebuild) and is not
    # comparable to a memoized-state round. Attribution drains the
    # memo's BUILD-EVENT log rather than diffing live-key snapshots:
    # a key built in warmup, FIFO-evicted, then REBUILT during a timed
    # run is net-absent from a snapshot diff (r9 advice) but appears
    # twice in the event log.
    cache_attr: dict[str, dict[str, list[str]]] = {}
    # r16 (verdict #3): COLD-COST ledger — wall seconds every memoized
    # family's builder spent, summed per family label across the whole
    # run (warmup or timed). A query consuming a memo table reports a
    # WARM median (the build lands in its discarded warmup run), so
    # without this ledger a cache shift is indistinguishable from a
    # speedup; cache_build_sec is the number a reader adds back to get
    # the end-to-end cold cost of each family.
    cache_build_sec: dict[str, float] = {}

    def _note_builds() -> list[str]:
        labels = []
        for k, sec in SH.drain_build_log():
            # drop the applicationId head; keep a compact human label
            label = "/".join(str(p) for p in k[1:])
            cache_build_sec[label] = round(cache_build_sec.get(label, 0.0) + sec, 4)
            labels.append(label)
        return sorted(labels)

    SH.drain_build_log()  # discard table-warmup builds
    for name in sorted(qs):
        built_warmup: list[str] = []
        timings[name] = time_query(
            spark, qs[name], sf_dir, after_warmup=lambda: built_warmup.extend(_note_builds())
        )
        built_timed = _note_builds()
        if built_warmup or built_timed:
            cache_attr[name] = {
                "built_warmup": built_warmup,
                "built_timed": built_timed,
            }

    # --- triage pass: fresh-session re-measure of >30% regressions vs
    # --- the last committed artifact (see module docstring) ----------
    triage: dict[str, dict] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_TRIAGE", "1") != "0":
        prior, prior_probe, prior_probe_shuffle = _prior_committed_artifact(sf, cores)
        # probe-normalized flagging: a query is only suspect if it is
        # >30% slower than the prior SCALED BY the whole-host speed
        # ratio this run's probes measured (r12: raw thresholds flagged
        # 20 untouched queries on a 35%-slower host; r13: a matched
        # compute probe hid a 2.4x-slower shuffle path, so the flag
        # ratio is the max of the compute and shuffle probe ratios)
        main_ratio = max(
            probe_ratio(probe_sec, prior_probe),
            probe_ratio(probe_shuffle_sec, prior_probe_shuffle),
        )
        flagged = [
            n
            for n, sec in timings.items()
            if n in prior and is_regression(sec, prior[n], main_ratio)
        ]
        # bound the isolated session's size so a globally-slow host
        # (every query drifts >30%) can't multiply the run's wall
        # clock — triage the WORST absolute regressions first; the
        # machine probe already tells a reader "whole host slower"
        flagged = sorted(
            flagged, key=lambda n: timings[n] - prior[n] * main_ratio, reverse=True
        )[: int(os.environ.get("SPARK_GRAFT_BENCH_TRIAGE_MAX", "20"))]
        if flagged:
            spark.stop()  # quiet host for the isolated session
            controls = pick_controls(prior, set(flagged))
            iso = _run_triage(sf_dir, sorted(flagged), controls)
            iso_probe = iso.pop("_probe_sec", None)
            iso_probe_shuffle = iso.pop("_probe_shuffle_sec", None)
            iso_controls = iso.pop("_controls", None)
            ctl_ratio = control_drift(prior, iso_controls)
            for n in flagged:
                if n not in iso:
                    continue
                reproduced, reason = triage_verdict(
                    prior[n],
                    prior_probe,
                    iso[n],
                    iso_probe,
                    prior_probe_shuffle,
                    iso_probe_shuffle,
                    ctl_ratio,
                )
                triage[n] = {
                    "prior_sec": prior[n],
                    "prior_probe_sec": prior_probe,
                    "prior_probe_shuffle_sec": prior_probe_shuffle,
                    "main_sec": timings[n],
                    "main_probe_sec": probe_sec,
                    "main_probe_shuffle_sec": probe_shuffle_sec,
                    "isolated_sec": iso[n],
                    "isolated_probe_sec": iso_probe,
                    "isolated_probe_shuffle_sec": iso_probe_shuffle,
                    "controls": iso_controls,
                    "control_ratio": ctl_ratio,
                    "reproduced": reproduced,
                    "reason": reason,
                }
                # commit the ISOLATED median ONLY on `reproduced is
                # True` (r13 verdict #1). The r13 artifact demonstrated
                # the alternative: an isolated session whose shuffle
                # probe was 3.2x the main run's committed cdc_compact
                # at 5.50s (main session: 1.22s) — +2.07s of fiction
                # across 9 indeterminate entries. The artifact's
                # top-level probes describe the MAIN session, so that
                # value is the only one self-consistent with the
                # recorded host state; on indeterminate AND
                # not-reproduced verdicts it stays, and the isolated
                # number remains in the triage block as evidence. (A
                # not-reproduced main value is noisy-HIGH — the
                # conservative direction; it re-flags next round if
                # the noise was real.)
                timings[n] = committed_timing(timings[n], iso[n], reproduced)

    total = round(sum(timings.values()), 4)
    full = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "probe_sec": probe_sec,
        "probe_shuffle_sec": probe_shuffle_sec,
        "cache_builds": cache_attr,
        "cache_build_sec": cache_build_sec,
        "cache_build_total_sec": round(sum(cache_build_sec.values()), 4),
        "triage": triage,
        "sf": sf,
        "cores": cores,
    }
    # durable full-detail copy: the driver keeps only the last 2000
    # chars of stdout, and 81 query timings don't fit — BENCH_r02/r03
    # lost their JSON head (and the parsed total) exactly this way
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"), "w"
    ) as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    # the printed line stays under the capture window: all required
    # keys, the most expensive queries inline (descending cost), full
    # detail in BENCH_LOCAL.json
    budget = int(os.environ.get("SPARK_GRAFT_BENCH_LINE_BYTES", "1800"))
    inline: dict[str, float] = {}
    line = ""
    for name in sorted(timings, key=timings.get, reverse=True):
        trial = dict(inline)
        trial[name] = timings[name]
        cand = json.dumps(
            {
                "metric": "total_query_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": trial,
                "n_queries": len(timings),
                "queries_full": "BENCH_LOCAL.json",
                "probe_sec": probe_sec,
                "probe_shuffle_sec": probe_shuffle_sec,
                "sf": sf,
            },
            separators=(",", ":"),
        )
        if len(cand) > budget:
            break
        inline = trial
        line = cand
    sys.stdout.flush()
    print(line, flush=True)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())

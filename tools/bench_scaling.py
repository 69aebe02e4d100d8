"""Scale-behavior study: run one representative query per family at
sf0.001 / sf0.01 / sf0.1 — plus a DATA-DOMINATED x10 leg (tools/
make_sfx10.py: 6M lineitem rows / 100K docs / 40K vectors) — and fit
the observed scaling exponent between adjacent sizes.

alpha ~ 1 means linear in data size, alpha < 1 means fixed overhead
still dominates (the r7 finding: at 17 MB EVERY family was overhead-
dominated, so the small-SF alphas proved nothing), alpha > 1 flags
superlinear work — the thing that would sink a 100 TB run. The x10
column is the one that matters: it is measured where data cost is
visible. Writes SCALING.md + prints one JSON line.

Usage: python tools/bench_scaling.py [runs]
Env:   SPARK_GRAFT_X10_DIR (default /tmp/pipe_s_sfx10; leg skipped if
       the directory is missing — run tools/make_sfx10.py first)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import warm_up

#: family -> (representative query, x10 amplification factor of the
#: table(s) the query scans: documents/embeddings are amplified 20x,
#: the TPC-H facts and events 10x — see tools/make_sfx10.py)
REPRESENTATIVES = {
    "scan+agg": ("q1_pricing_summary", 10),
    "join+topk": ("q3_shipping_priority", 10),
    "exact-distinct": ("stats_column_profile", 10),
    "quantile-distributed": ("percentiles_distributed", 10),
    "window": ("window_topk_per_group", 10),
    "cdc-pipeline": ("cdc_merge_apply", 10),
    "event-time": ("time_tumbling", 10),
    "dedup-minhash": ("dedup_minhash_lsh", 20),
    "dedup-ngram": ("text_dup_ngrams", 20),
    "ann-lsh": ("sim_lsh_buckets", 20),
    "ann-lsh-auto": ("sim_lsh_buckets_auto", 20),
    "ann-ivf-kmeans": ("sim_ivf_kmeans", 20),
    "knn-graph": ("sim_knn_graph", 20),
    "knn-graph-lsh": ("sim_knn_graph_lsh", 20),
    "cluster-verify": ("sim_cell_pairs", 20),
    "ann-pq-adc": ("sim_pq_topk", 20),
    "ann-ivfpq": ("sim_ivfpq_topk", 20),
    "text-stats": ("text_stats", 20),
    "market-basket": ("orders_market_basket", 10),
    "expectations": ("dq_expectations", 10),
    "snapshot-diff": ("corpus_snapshot_diff", 20),
    "drift-psi": ("events_psi_drift", 10),
    "tfidf-pairs": ("dedup_tfidf_cosine", 20),
    "cohort-ltv": ("orders_cohort_ltv", 10),
    "heavy-hitters": ("text_heavy_tokens", 20),
    "contrastive-mining": ("sim_triplets", 20),
    "contrastive-mining-blocked": ("sim_triplets_blocked", 20),
}

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
X10 = os.environ.get("SPARK_GRAFT_X10_DIR", "/tmp/pipe_s_sfx10")


def _fmt_alpha(a) -> str:
    """stream_scaling's _alpha() returns None when a rounded leg time
    is 0; formatting None with :.2f would abort the whole SCALING.md
    regeneration — exactly the case the None guard exists for."""
    return f"{a:.2f}" if a is not None else "n/a"


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3

    from pipe_s_spark.functions import shared as SH
    from pipe_s_spark.session import get_spark

    spark = get_spark(
        app_name="bench_scaling",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    have_x10 = os.path.isdir(X10)
    sfs = SFS + ([X10] if have_x10 else [])
    if not have_x10:
        print(f"[bench_scaling] {X10} missing — x10 leg skipped "
              "(python tools/make_sfx10.py)", file=sys.stderr)
    warm_up(spark, *sfs)

    def label(sf: str) -> str:
        return "x10" if sf == X10 else sf.rsplit("sf", 1)[1]

    results: dict[str, dict[str, float]] = {}
    for fam, (name, _factor) in REPRESENTATIVES.items():
        times = {}
        for sf in sfs:
            best = float("inf")
            for _ in range(runs):
                # clear the session-materialized memo before EVERY run:
                # otherwise cache-consuming families (dedup) time a
                # checkpoint read, not the pipeline being scaled
                SH.clear()
                t0 = time.perf_counter()
                qs[name](spark, sf).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            times[label(sf)] = round(best, 4)
        results[name] = times
        print(f"{fam:22s} {name:28s} {times}", file=sys.stderr, flush=True)

    lines = [
        "# Scaling study",
        "",
        "One representative query per operator family, best-of-"
        f"{runs} at three driver scale factors plus the amplified "
        f"x10 leg (tools/make_sfx10.py: 6M lineitem / 100K docs / 40K "
        f"vectors; documents+embeddings are 20x, facts 10x) on "
        f"local[{spark.sparkContext.defaultParallelism}], noop sink, "
        "generated by `tools/bench_scaling.py`.",
        "",
        "`alpha` = log10(t_sf0.1 / t_sf0.01) — overhead-dominated at "
        "these sizes (all < 1 in r7, which is why the x10 leg exists). "
        "`alpha_x10` = log_factor(t_x10 / t_sf0.1) with the family's "
        "amplification factor: ~1 = linear in data, < 1 = still "
        "overhead/parallelism headroom, > 1 = superlinear (the 100 TB "
        "red flag — each one gets a diagnosis below).",
        "",
        "| family | query | sf0.001 s | sf0.01 s | sf0.1 s | x10 s | alpha | alpha_x10 |",
        "|---|---|---|---|---|---|---|---|",
    ]
    alphas = {}
    for fam, (name, factor) in REPRESENTATIVES.items():
        t = results[name]
        alpha = (
            math.log10(t["0.1"] / t["0.01"]) if t["0.01"] > 0 else float("nan")
        )
        if "x10" in t and t["0.1"] > 0:
            a10 = math.log(t["x10"] / t["0.1"]) / math.log(factor)
            a10_s, x10_s = f"{a10:.2f}", f"{t['x10']:.3f}"
        else:
            a10, a10_s, x10_s = None, "-", "-"
        alphas[name] = {"alpha": round(alpha, 3), "alpha_x10": round(a10, 3) if a10 is not None else None}
        lines.append(
            f"| {fam} | `{name}` | {t['0.001']:.3f} | {t['0.01']:.3f} "
            f"| {t['0.1']:.3f} | {x10_s} | {alpha:.2f} | {a10_s} |"
        )
    lines += [
        "",
        "## Reading the x10 column",
        "",
        "- The x10 leg is written as 32 files per table, so it ALSO "
        "recovers parallelism a single-file sf0.1 scan leaves unused — "
        "that is the representative layout (a cluster table is always "
        "many files), and it is why a few alpha_x10 values land near "
        "or below 0 (`q1_pricing_summary`, `stats_column_profile`): "
        "10x the data costs LESS wall-clock because the extra rows "
        "ride on cores a one-file scan left idle.",
        "- x10 ABSOLUTE seconds are session-state sensitive (page "
        "cache and accumulated JVM/GC state from the families that "
        "ran before): `dedup_minhash_lsh`'s x10 leg re-measured in a "
        "fresh session runs ~2.6-3.0s vs 12.8s recorded mid-study. "
        "The alpha_x10 CONCLUSIONS — which families grow superlinear "
        "— are stable across re-runs; the absolute seconds are not, "
        "same run-to-run envelope the bench artifact documents.",
        "",
        "## Diagnoses (alpha_x10 >= ~1)",
        "",
        "- `sim_knn_graph` (alpha_x10 ~ 1.5): EXACT all-pairs kNN is "
        "O(n^2 d) BY CONTRACT — 20x vectors = 400x FLOPs; the observed "
        "exponent sits below 2 only because idle cores absorb part of "
        "it. This is the documented trade (functions/similarity."
        "knn_graph_blocked): per-task memory stays bounded (2n/B rows) "
        "and nothing collects driver-side, but total FLOPs are the "
        "exactness bill. The corpus-scale path is now a REGISTERED, "
        "oracle-checked query: `sim_knn_graph_lsh` (knn-graph-lsh row "
        "of this table — multi-table `lsh_candidates_multi` candidates "
        "+ the same per-node window tail, recall floor pinned in "
        "tests/test_ann_recall.py).",
        "- `sim_knn_graph_lsh` (knn-graph-lsh): same contract as the "
        "exact graph (top-3 per node), approximate candidates — "
        "compare the two x10 columns directly. COUNT-ADAPTIVE: each "
        "table's plane count derives from the live corpus count "
        "(auto_planes at the static PLANE_STRIDE), so expected bucket "
        "occupancy — hence per-bucket verify work — stays ~constant "
        "at any corpus size; with r10's radius-1 multiprobe the "
        "candidate volume is ~tables x (1+planes) x target x n — "
        "linear in n times a log-n probe factor — for edge recall "
        "0.605/0.695 vs the unprobed 0.26/0.31. The sf0.001/sf0.01 "
        "columns are Arrow-worker/coarse-group floors, not data cost.",
        "- `sim_triplets` (alpha_x10 ~ 1.2): its pair source is the "
        "exact blocked kernel (threshold_pairs_blocked — the SAME "
        "O(n^2 d)-by-contract bill as sim_knn_graph; this harness's "
        "cache clear forces the rebuild every run, while in-session "
        "consumers amortize it). The corpus-scale path is now the "
        "REGISTERED `sim_triplets_blocked` (contrastive-mining-blocked "
        "row): the same per-anchor tail over `sim_cell_pairs`' "
        "trained-cell edge list, whose cluster-verify row measures "
        "FLAT (alpha_x10 ~ 0) in this same table.",
        "- `sim_triplets_blocked` (contrastive-mining-blocked): "
        "inherits the k-means training floor (fixed Lloyd loop, like "
        "sim_ivf_kmeans below) plus the flat capped-cell verify — the "
        "per-data term is the broadcast-label joins and per-anchor "
        "windows, linear in the edge list.",
        "- `sim_cell_pairs` (cluster-verify, alpha_x10 ~ 0, for "
        "contrast): the capped-cell equi-join + per-cell matmul "
        "verify is invisible next to the fixed index-build cost even "
        "at 40K vectors — the blocking contract (sum of cell-size^2, "
        "every cell <= SIM_BUCKET_CAP) holding exactly as designed.",
        "- `text_stats` (alpha_x10 ~ 1.0): exactly LINEAR in corpus "
        "size — per-document narrow expressions fused into the scan, "
        "the expected slope for a full-corpus statistic and the "
        "baseline every other row should be read against; nothing to "
        "fix (superlinear is the red flag, not linear).",
        "- `sim_lsh_buckets` (alpha_x10 ~ 0.9 but a large absolute "
        "jump): the oracle-pinned query fixes planes=8 (256 buckets), "
        "so bucket occupancy grows linearly with the corpus and the "
        "bucket self-join quadratically — exactly the documented "
        "planes-must-grow-with-log2(n) rule (the pinned constant "
        "keeps the oracle replayable at test scale, and "
        "SIM_BUCKET_CAP bounds the worst key). The corpus-sized form "
        "is now the REGISTERED `sim_lsh_buckets_auto` (ann-lsh-auto "
        "row): planes derive from the live COUNT via functions/"
        "similarity.auto_planes (exact integer arithmetic the oracle "
        "replays), so expected bucket occupancy stays ~constant and "
        "candidate volume linear — at the 40K-vector x10 leg the "
        "signature widens to 10 planes (1024 buckets) where the "
        "pinned form stays at 256.",
        "- `percentiles_distributed` (~1.2-4 s across four decades of "
        "data): constant-dominated — the exact-quantile pass is a "
        "fixed number of stages (bounds agg, distinct-value shuffle, "
        "two bounded windows, final agg) whose fixed cost dwarfs the "
        "per-row term until well past 6M rows; cost near-flat in data "
        "is the good direction of 'not linear'.",
        "- `sim_ivf_kmeans` (flat ~5-7 s, alpha_x10 ~ 0): dominated by "
        "the fixed training loop (2 Lloyd iterations x a handful of "
        "driver-scheduled jobs); the per-vector term (narrow literal-"
        "matrix assign) is invisible even at 40K vectors. Training "
        "cost grows with iterations x jobs, not data — the right "
        "shape for an index build.",
        "- `sim_pq_topk` / `sim_ivfpq_topk` (alpha_x10 ~ 0.1-0.25, "
        "flat like the other index builds): this harness clears the "
        "session memo every run, so each timing includes PQ codebook "
        "(and for IVFADC also centroid) training from scratch — the "
        "fixed offline cost that dominates; the serving-path terms "
        "(ADC scan at m adds/candidate, probed-cell shortlist + "
        "k*rerank_factor exact re-ranks) are the parts that scale, "
        "and both are visible as the small x10 deltas on top of the "
        "training floor.",
        "",
    ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    stream_art = os.path.join(root, "STREAM_SCALING.json")
    if os.path.exists(stream_art):
        with open(stream_art) as f:
            ss = json.load(f)
        lines += [
            "## CDC streaming legs (tools/stream_scaling.py)",
            "",
            f"The replication path's own x10 evidence: the three "
            f"stream_bench CDC legs at {ss['x1_rows']:,} and "
            f"{ss['x10_rows']:,} amplified changelog rows "
            f"(factor {ss['factor']}), each amplification in a fresh "
            "session. alpha_x10 = log_factor(t_x10 / t_x1).",
            "",
            "| leg | x1 s | x10 s | x1 rows/s | x10 rows/s | alpha_x10 |",
            "|---|---|---|---|---|---|",
        ]
        for leg, v in ss["legs"].items():
            lines.append(
                f"| {leg} | {v['x1_sec']} | {v['x10_sec']} "
                f"| {v['x1_rows_per_sec']:,} | {v['x10_rows_per_sec']:,} "
                f"| {_fmt_alpha(v['alpha_x10'])} |"
            )
        lines += [
            "",
            "> **r12 compact diagnosis (closes the r11 outlier):** the r11",
            "> point value (78.5s, alpha 1.12) was not only host-state — a",
            "> REAL superlinear term existed: reduce-side parallelism was",
            "> pinned at core count (32 shuffle partitions), so the x10 leg",
            "> ran 10x the per-task hash-agg state and paid spill/GC.",
            "> Controlled experiment: per-row cost is FLAT at matched",
            "> per-task state (2M rows / 32 parts = 2.18 us/row vs 20M /",
            "> 256 = 2.21), while 20M over 32 fixed partitions ran 36-75%",
            "> over linear. Fix (r12: a bench-tool conf; r13: moved INTO",
            "> the library — pipe_s_spark.sizing): compact_changelog sizes",
            "> its reduce parallelism from the input's Catalyst byte",
            "> estimate (keyed repartition embedded in the plan) and",
            "> apply_batch scopes AQE's initialPartitionNum around its",
            "> merge write, so these legs now run the PLAIN library calls",
            "> with no session conf — the same rule at both amplifications",
            "> keeps alphas apples-to-apples, and per-epoch streaming-index",
            "> jobs (below their size threshold) keep core-count initial",
            "> partitions. The legs also materialize the synthetic",
            "> changelog across data-proportional partitions (r13): the",
            "> events-derived checkpoint used to land in ONE partition, so",
            "> earlier absolute rows/s figures carried a single-task",
            "> serial stage no real scan would have.",
            "",
            "> **r14 merge diagnosis (closes the r13 worst-exponent flag):**",
            "> r13 measured merge alpha 0.82 (x10 28.3s, 706K rows/s) — the",
            "> worst CDC exponent. Per-phase attribution (apply_batch's",
            "> LAST_APPLY_PROFILE telemetry and a separate phase-timing",
            "> script's within-session decomposition, interleaved on one cached",
            "> input): the merge COMPUTE (anti-join + union -> noop sink) is",
            "> FLAT at ~0.6s at BOTH x1 and x10; plain-parquet encode ~0.9s",
            "> at both; the growth lived entirely in the dynamic-partition",
            "> staged write — every write task held rows of all num_buckets",
            "> partition values, so the writer ran 16 concurrent parquet",
            "> writers per task (16x open column buffers, a per-task sort,",
            "> n_tasks x 16 small files: 2,274 files and 8-16s at x10).",
            "> Fix: bulk staged writes now repartition by (bucket, salt)",
            "> first — salt from xxhash64(keys) so it stays independent of",
            "> the murmur3-derived bucket — aligning tasks with output",
            "> partitions (one writer per task, 130 files). Interleaved",
            "> x10 A/B: 8-16s -> 2.0-3.2s. Post-fix fresh-session study:",
            "> merge alpha 0.47 (x10 13.9s, 1.43M rows/s), compact 0.40.",
            "",
        ]
        if ss.get("index_legs"):
            lines += [
                "## Continuous-index ingest legs (tools/stream_scaling.py"
                " -> tools/stream_bench.py)",
                "",
                "The streaming IVF index (vector mode), its COMPRESSED "
                "IVFADC mode (ivfpq_ingest — PQ codes persisted, "
                "in-kernel ADC LUTs), and the streaming MinHash-LSH "
                "dedup index, each ingesting the corpus in 4 "
                "epochs (every epoch probing/banding against everything "
                "indexed earlier) at sf0.1 and the amplified x10 corpus "
                "(20x documents/embeddings), in each scale's fresh "
                "session after its CDC legs. "
                "alpha_x10 = log_factor(t_x10 / t_x1).",
                "",
                "| leg | x1 s | x10 s | x1 rows/s | x10 rows/s | factor "
                "| alpha_x10 |",
                "|---|---|---|---|---|---|---|",
            ]
            for leg, v in ss["index_legs"].items():
                lines.append(
                    f"| {leg} | {v['x1_sec']} | {v['x10_sec']} "
                    f"| {v['x1_rows_per_sec']:,} | {v['x10_rows_per_sec']:,} "
                    f"| {v['factor']} | {_fmt_alpha(v['alpha_x10'])} |"
                )
            lines += [
                "",
                "> Running the index legs after the CDC legs moves alpha_x10"
                " little: on a 4-core host, index-only sessions read"
                " ivf_ingest 0.18, ivfpq_ingest 0.26-0.29 and"
                " dedup_index_ingest 0.32-0.33, and the same legs after the"
                " 2M- and 20M-row CDC legs 0.21-0.23, 0.30-0.33 and"
                " 0.34-0.36 (two runs each).",
                "",
            ]
    with open(os.path.join(root, "SCALING.md"), "w") as f:
        f.write("\n".join(lines))
    print(json.dumps({"metric": "scaling_alpha", "alphas": alphas}))
    spark.stop()


if __name__ == "__main__":
    main()

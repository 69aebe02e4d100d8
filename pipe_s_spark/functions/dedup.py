"""Deduplication operators: exact, normalized, n-gram Jaccard,
MinHash+LSH, SimHash.

Design for 100 TB:
- exact/normalized dedup is a hash-groupBy — one shuffle on the digest,
  map-side partial aggregation, no data skew (md5 is uniform);
- n-gram Jaccard avoids the O(n^2) cross join by exploding shingles and
  self-joining on the shingle (inverted index) — cost is bounded by
  shingle-collision volume, and the same plan is what LSH banding
  produces with fewer candidates;
- MinHash signatures are per-doc narrow aggregations; LSH banding turns
  near-dup search into an equi-join on (band, signature) — the classic
  shuffle-friendly formulation (Broder'97; Leskovec et al., MMDS ch.3);
- SimHash is a per-doc 16-bit signature via bit-majority voting
  (Charikar'02), also a narrow aggregation.

Every hash is md5-based so the DuckDB oracle can reproduce signatures
bit-for-bit (engine-native hash() functions differ between engines).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

def normalize_text(col: Column | str) -> Column:
    """Canonical form for near-exact dedup: lowercase, strip
    non-alphanumerics, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.lower(c)
    out = F.regexp_replace(out, r"[^a-z0-9\s]", "")
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


NORMALIZE_SQL = (
    "trim(regexp_replace(regexp_replace(lower({expr}), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)


def shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, distinct: bool = True
) -> DataFrame:
    """Distinct k-token shingles per document (every occurrence when
    ``distinct=False`` — repetition metrics need multiplicity), as an
    Arrow-batched
    mapInPandas — a narrow map with NO shuffle (per-doc dedup happens in
    the kernel), so the only exchange in a dedup plan is the one the
    downstream groupBy/join needs anyway.

    Why not pure Catalyst? Measured at sf0.1 (5000 docs, 260k shingles):
    nested transform/element_at expressions re-evaluate the tokenizer
    per element access (~16 s); posexplode + lead-window is fast (1.6 s)
    but shuffles every token row — corpus-sized traffic at 100 TB; this
    kernel is 0.7 s with zero shuffle. Tokenization matches
    ``text.tokens``: lowercase, split on ASCII whitespace runs, drop
    empties (re.ASCII — Java's \\s is ASCII-only, so Spark, DuckDB and
    this kernel agree)."""
    import re

    ws = re.compile(r"\s+", re.ASCII)

    def kernel(batches):
        import pandas as pd

        for b in batches:
            ids: list = []
            shs: list = []
            ns: list = []
            for did, text in zip(b[id_col], b[text_col]):
                toks = [t for t in ws.split((text or "").lower()) if t]
                grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
                seen = set(grams) if distinct else grams
                ids.extend([did] * len(seen))
                shs.extend(seen)
                ns.extend([len(seen)] * len(seen))
            yield pd.DataFrame({id_col: ids, "shingle": shs, "n": ns})

    id_type = df.schema[id_col].dataType.simpleString()
    # `n` (the doc's distinct-shingle count) rides along on every row:
    # it is free here and lets pair_counts skip a whole sizes
    # aggregation + two joins downstream.
    # r15: fan_out before the kernel — on a low-parallelism scan
    # (single-row-group file) the whole corpus was tokenized by ONE
    # Python worker (profiled 1.3-1.7 s serial stages); the narrow
    # (id, text) exchange spreads the kernel across cores and is a
    # no-op at cluster scale (sizing.fan_out).
    from pipe_s_spark.sizing import fan_out, kernel_parts

    return fan_out(
        df.select(id_col, text_col),
        by=[id_col],
        max_parts=kernel_parts(df.sparkSession),
    ).mapInPandas(
        kernel, schema=f"{id_col} {id_type}, shingle string, n long"
    )


#: Modulus for the universal-hash MinHash family (prime, fits int32).
MINHASH_PRIME = 2147483647


def minhash_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for hash family member i — md5-derived
    constants, computed once driver-side and inlined as literals so the
    DuckDB oracle uses the identical family."""
    import hashlib

    a = int(hashlib.md5(f"mh_a{i}".encode()).hexdigest()[:8], 16) % (MINHASH_PRIME - 1) + 1
    b = int(hashlib.md5(f"mh_b{i}".encode()).hexdigest()[:8], 16) % MINHASH_PRIME
    return a, b


def minhash_signature(sh: DataFrame, id_col: str, num_hashes: int = 16) -> DataFrame:
    """MinHash signature per doc: one md5 per shingle -> 28-bit base
    hash h, then h_i = (a_i*h + b_i) mod p per family member (universal
    hashing, Broder'97 / Carter-Wegman). 16x cheaper than hashing the
    shingle once per family member, and a_i*h < 2^59 never overflows
    int64 in either engine."""
    h = F.conv(F.substring(F.md5(F.col("shingle")), 1, 7), 16, 10).cast("long")
    aggs = []
    for i in range(num_hashes):
        a, b = minhash_params(i)
        aggs.append(F.min(F.pmod(F.lit(a) * h + F.lit(b), F.lit(MINHASH_PRIME))).alias(f"h{i}"))
    return sh.groupBy(id_col).agg(*aggs)


def lsh_bands(sig: DataFrame, id_col: str, num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Band the signature: rows/band = num_hashes/bands; docs sharing
    any (band_id, band_sig) are candidate pairs after an equi-join."""
    rows = num_hashes // bands
    parts = []
    for b in range(bands):
        cols = [F.col(f"h{i}") for i in range(b * rows, (b + 1) * rows)]
        parts.append(
            F.struct(F.lit(b).alias("band_id"), F.concat_ws("|", *cols).alias("band_sig"))
        )
    return sig.select(id_col, F.explode(F.array(*parts)).alias("band")).select(
        id_col, F.col("band.band_id").alias("band_id"), F.col("band.band_sig").alias("band_sig")
    )


#: Max docs sharing one (band_id, band_sig) before the group is dropped
#: from candidate generation (cap_group_size). Without it a
#: mass-duplicate cluster — identical boilerplate docs, the common case
#: in web corpora — puts its whole cluster in one band group and the
#: self-join goes quadratic on that key. Canonical value for BOTH the
#: batch LSH queries and the continuous streaming index (which defaults
#: to it — the scale guard is opt-OUT, not opt-in).
LSH_BAND_CAP = 100


def cap_group_size(df: DataFrame, cols: Sequence[str], cap: int) -> DataFrame:
    """Drop every row whose group (by ``cols``) exceeds ``cap`` rows —
    the bounded-fan-out guard every LSH-style self-join needs before
    its equi-join.

    Rationale: a degenerate join key (a band signature or hash bucket
    shared by a mass-duplicate cluster — the NORM in web corpora, not
    the exception) makes one key's output quadratic: 1M identical
    boilerplate docs in one band = 5*10^11 candidate pairs on a single
    reducer. Capping group size bounds any key's fan-out at C(cap, 2)
    and drops only groups that are already unusable as discriminating
    candidates (same argument as pair_counts' df_cap on
    stop-shingles). The count window shuffles on exactly the key the
    downstream join shuffles on, so the partitioning is reused."""
    w = Window.partitionBy(*[F.col(c) for c in cols])
    return (
        df.withColumn("_gs", F.count(F.lit(1)).over(w))
        .filter(F.col("_gs") <= cap)
        .drop("_gs")
    )


def pair_counts(sh: DataFrame, id_col: str = "doc_id", df_cap: int = 100) -> DataFrame:
    """Set-overlap core of near-dup detection: (d1, n1, d2, n2, c) with
    c = common shingles of docs d1 < d2, from a (id, shingle, n)
    relation (``shingles`` output) — the narrow persisted intermediate
    both :func:`jaccard_from_counts` and
    :func:`containment_from_counts` consume. Materialize this once per
    corpus and derive every overlap measure from it.

    The shuffle-minimal formulation, via a df-capped inverted list:

    1. one groupBy(shingle) builds the posting list of (doc, size)
       structs per shingle (map-side combine), dropping stop-shingles
       with more than ``df_cap`` distinct docs — this bounds downstream
       fan-out at C(df_cap, 2) pairs per shingle, so no skewed join key
       can go quadratic at 100 TB;
    2. candidate pairs are generated NARROWLY from each posting list
       with array ops (no self-join of the shingle relation), carrying
       both docs' TRUE set sizes along — no sizes relation, no joins;
    3. one groupBy(pair) counts common (capped-index) shingles.

    Exactly two shuffles end-to-end vs the classic self-join's shuffle
    + skew-prone join + count + two size joins. The sizes are true
    (uncapped) set sizes, so dropping stop-shingles can only
    underestimate an overlap measure — candidates never inflate."""
    inv = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_set(F.struct(F.col(id_col).alias("d"), F.col("n")))).alias("docs"))
        .filter(F.size("docs") <= df_cap)
    )
    # two chained generators (posexplode -> explode of the tail slice)
    # instead of building the full C(m,2) nested struct array per list:
    # same rows, but nothing quadratic is materialized per input row —
    # measured 1.5x faster on the sf0.1 pair volume (1.27M pairs)
    x = inv.select(F.posexplode("docs").alias("i", "x"), "docs")
    return (
        x.select(
            "x",
            F.explode(F.slice(F.col("docs"), F.col("i") + F.lit(2), F.size("docs"))).alias("y"),
        )
        .groupBy(
            F.col("x.d").alias("d1"),
            F.col("x.n").alias("n1"),
            F.col("y.d").alias("d2"),
            F.col("y.n").alias("n2"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )


def jaccard_from_counts(counts: DataFrame, threshold: float = 0.15) -> DataFrame:
    """Jaccard pairs from a :func:`pair_counts` relation: c / (n1 + n2
    - c), thresholded. Narrow — no shuffle beyond what built the
    counts."""
    return (
        counts.select(
            F.col("d1"),
            F.col("d2"),
            F.round(
                F.col("c").cast("double") / (F.col("n1") + F.col("n2") - F.col("c")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_from_counts(counts: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Directional containment pairs from a :func:`pair_counts`
    relation — |A∩B|/|A| and |A∩B|/|B| (Broder 1997's asymmetric
    resemblance: high when one doc is an EXCERPT of the other even
    though their Jaccard is low), kept when either clears
    ``threshold``. Narrow."""
    in2 = F.round(F.col("c").cast("double") / F.col("n1"), 6)
    in1 = F.round(F.col("c").cast("double") / F.col("n2"), 6)
    return (
        counts.select(
            "d1",
            "d2",
            in2.alias("containment_1in2"),
            in1.alias("containment_2in1"),
        )
        .filter(
            (F.col("containment_1in2") >= threshold)
            | (F.col("containment_2in1") >= threshold)
        )
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """``bits``-wide SimHash per document (Charikar'02): each distinct
    token votes ±1 on each bit of the first ``bits`` bits of
    md5(token); the sign of the vote sum sets the bit.

    64 bits is the corpus-scale default (the width used in the
    published near-dup literature — Manku et al., WWW'07 use 64-bit
    fingerprints for 8B docs); 16 bits is the pinned test-scale width
    the oracle-checked queries use (:func:`simhash16`). ``bits`` must
    be a multiple of 4 (hex-nibble granularity) and at most 64; a
    64-bit signature with the top bit set is stored as its
    two's-complement (negative) int64 — Hamming distance via
    bit_count(xor) is unaffected, and a caller that bands the
    signature must extract bands with an UNSIGNED shift
    (``shiftrightunsigned``).

    Computed in an Arrow-batched mapInPandas kernel — a narrow map with
    ZERO shuffle (the expression formulation needed an explode +
    distinct + per-bit-sum groupBy: two shuffles of every token row and
    measured 3.5 s at sf0.1 vs ~1 s here). hashlib.md5 output is
    byte-identical to Spark's and DuckDB's md5, so oracle SQL can
    reproduce any width; tokenization matches ``text.tokens`` (ASCII
    whitespace, lowercased, empties dropped)."""
    if bits % 4 or not 0 < bits <= 64:
        raise ValueError(f"bits must be a multiple of 4 in [4, 64], got {bits}")
    import hashlib
    import re

    ws = re.compile(r"\s+", re.ASCII)
    nibbles = bits // 4

    def kernel(batches):
        import pandas as pd

        for b in batches:
            ids: list = []
            sigs: list = []
            for did, text in zip(b[id_col], b[text_col]):
                votes = [0] * bits
                for t in {t for t in ws.split((text or "").lower()) if t}:
                    h = int(hashlib.md5(t.encode()).hexdigest()[:nibbles], 16)
                    for j in range(bits):
                        votes[j] += 1 if (h >> j) & 1 else -1
                ids.append(did)
                sig = sum(1 << j for j in range(bits) if votes[j] > 0)
                if sig >= 1 << 63:  # two's-complement wrap into int64
                    sig -= 1 << 64
                sigs.append(sig)
            yield pd.DataFrame({id_col: ids, "simhash": sigs})

    id_type = df.schema[id_col].dataType.simpleString()
    # r15: fan_out before the kernel — per-token md5 + bit votes is the
    # heaviest per-row Python kernel in the dedup family and ran in ONE
    # worker off the single-row-group scan; no-op at cluster scale.
    from pipe_s_spark.sizing import fan_out, kernel_parts

    return fan_out(
        df.select(id_col, text_col),
        by=[id_col],
        max_parts=kernel_parts(df.sparkSession),
    ).mapInPandas(kernel, schema=f"{id_col} {id_type}, simhash bigint")


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Test-scale 16-bit SimHash — the width the oracle-checked queries
    pin so both engines hash the same literal plan. Production near-dup
    jobs should use :func:`simhash` (64-bit default): 4 bands of 16
    bits find every pair within Hamming distance 3 (pigeonhole —
    Manku et al., WWW'07)."""
    return simhash(df, id_col, text_col, bits=16)


#: contracted graphs at or below this many edges fold DRIVER-SIDE
#: (one union-find over bounded metadata, zero label-propagation
#: jobs); larger ones run the distributed hop loop. The contracted
#: graph has one vertex per task-local component and one edge per
#: (vertex, extra task it appeared in) — for near-dup corpora it is
#: orders of magnitude smaller than the edge list, but it CAN reach
#: O(V) on adversarial partitionings, hence the guarded fallback
#: rather than an unconditional collect.
CC_DRIVER_FOLD_MAX_EDGES = 200_000

#: edge lists at or below this many rows skip the two-phase machinery
#: entirely: ONE limit(N+1) job proves the bound and hands the driver
#: the whole (bounded-metadata-sized) edge list, which one union-find
#: resolves — the common case after banded candidate generation caps
#: fan-out (sf0.1's ensemble graph is ~800 edges; three Spark jobs of
#: pure fixed cost resolved it before this path). Above the bound the
#: two-phase local-fold/contract path runs unchanged — this is the
#: same guarded bounded-driver-state pattern as the contracted fold,
#: one level earlier.
CC_EDGE_FOLD_MAX_EDGES = 200_000

#: local_fold emits its (vertex, root) table in slices of this many
#: rows so a skewed partition never materializes as a single Arrow
#: record batch proportional to partition size (Arrow/JVM batches cap
#: at 2 GB; 1M rows of two columns stays comfortably inside it).
CC_LOCAL_FOLD_CHUNK_ROWS = 1_000_000

#: telemetry for the most recent connected_components call — how big
#: the contracted graph actually was and which resolution path ran.
#: Real dedup corpora should sit orders of magnitude under
#: CC_DRIVER_FOLD_MAX_EDGES; tests/test_scale_guards.py pins that the
#: sf0.1 corpus does, so drift toward the bound is visible before the
#: fallback ever fires in production.
#:
#: SINGLE-THREADED test/bench telemetry, not an API: a mutable module
#: global written by every connected_components call, so concurrent
#: callers (e.g. threaded epoch patterns) interleave writes — read it
#: only in sequential harnesses (r12 advice). Note also the bound
#: probe's cost contract: graphs OVER the edge-fold bound pay one
#: extra bounded probe (limit(N+1) -> up to ~200K edge rows to the
#: driver) before taking the two-phase path — a fixed, capped cost by
#: construction, never O(graph).
CC_TELEMETRY: dict = {"contracted_edges": None, "path": None}


def _min_union_find(pairs):
    """Union-find with union-by-min: after all unions, find(x) is the
    MINIMUM element of x's component (every union hangs the larger
    root under the smaller) — the canonical label both the SQL oracles
    and the distributed min-label loop produce."""

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return parent, find


def connected_components(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 25,
    on_non_convergence: str = "raise",
) -> DataFrame:
    """Connected components over an undirected edge list — the cluster
    resolution step of near-dup dedup (candidate pairs -> groups, keep
    one doc per group).

    THREE TIERS, each a guarded bounded-driver-state pattern:

    0. EDGE fold (r12): if limit(N+1) proves the whole edge list is
       under CC_EDGE_FOLD_MAX_EDGES, one driver union-find resolves it
       — a single Spark job for the banded-candidate graphs real dedup
       produces (caps bound pair fan-out long before 200K edges).

    TWO-PHASE above that (r10 brief: pure hop-by-hop label propagation
    pays diameter x per-hop job overhead — ~0.4 s/hop of fixed cost on
    an 800-edge graph whose actual compute is microseconds):

    1. LOCAL fold: repartition the (bidirectional, distinct) edge list
       by source — co-locating every vertex's adjacency — and run one
       union-by-min pass per task (mapInPandas). Each task-local
       component contracts to its minimum vertex id ("local root").
    2. CONTRACT + resolve: a vertex seen by several tasks ties all its
       local roots together, so the contracted graph is {(min root of
       v, other root of v)} over the per-vertex root sets. Any
       original edge (a, b) was witnessed by exactly one task, which
       merged a and b locally — so connectivity is exactly preserved
       through shared roots, and components of the contracted graph
       lift back to the original by root lookup. The contracted graph
       is bounded-metadata-sized for real dedup graphs and folds
       driver-side (CC_DRIVER_FOLD_MAX_EDGES, one union-find — the
       same bounded-driver-state pattern as the streaming index's
       cell ledger); above the bound it runs the distributed
       min-label hop loop (one shuffle join + one aggregation per
       hop, lineage truncated per hop, convergence = exact
       changed-row count: each hop flags the labels it lowered and a
       zero flag-sum certifies the fixpoint — type-agnostic, so
       string vertex ids converge-check correctly too).

    Returns (vertex, component) with component = min vertex id
    reachable — a fixpoint property independent of which algorithm
    computed it, which is what keeps the DuckDB oracles valid.

    If the distributed fallback's fixpoint is NOT reached within the
    hop budget the labels are not components — silently returning
    them would hand the caller split clusters (dedup would keep extra
    near-dup copies). ``on_non_convergence``: "raise" (default)
    raises RuntimeError; "warn" logs and returns the partial labels
    for callers that explicitly tolerate over-segmentation.
    """
    if on_non_convergence not in ("raise", "warn"):
        raise ValueError(f"on_non_convergence must be 'raise' or 'warn', got {on_non_convergence!r}")
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    vt = e.schema["a"].dataType.simpleString()

    # EDGE-LEVEL driver fold (r12): one limit(N+1) job both proves the
    # edge list is bounded-metadata-sized AND delivers it — a graph
    # under the bound resolves with a single Spark job + one driver
    # union-find (the two-phase path cost three jobs of fixed overhead
    # to resolve sf0.1's ~800-edge ensemble graph). Oversized graphs
    # pay one cheap truncated probe and take the two-phase path.
    probe0 = e.limit(CC_EDGE_FOLD_MAX_EDGES + 1).collect()
    if len(probe0) <= CC_EDGE_FOLD_MAX_EDGES:
        import pandas as pd

        CC_TELEMETRY["contracted_edges"] = len(probe0)
        CC_TELEMETRY["path"] = "edge_fold"
        parent, find = _min_union_find((r["a"], r["b"]) for r in probe0)
        verts = list(parent)
        # pandas -> Arrow -> LocalRelation: a plain python-list
        # createDataFrame becomes a parallelize-backed LogicalRDD whose
        # FIRST scan costs ~1.7 s of python-task codepath warmup; the
        # Arrow local relation scans in-process and lets downstream
        # memo consumers skip checkpointing entirely (shared.materialized
        # isLocal fast path)
        return spark.createDataFrame(
            pd.DataFrame({"v": verts, "component": [find(x) for x in verts]}),
            f"v {vt}, component {vt}",
        )

    # NO distinct, NO checkpoint here: the fast path reads the edge
    # list exactly once (inside the per_v job below), duplicate edges
    # are free no-ops to union-find, and each eliminated shuffle /
    # materialization job was ~0.2-0.4 s of the fixed cost this
    # rewrite exists to remove. The distributed fallback dedupes its
    # own (contracted) edge list.
    und = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))

    def local_fold(batches):
        import pandas as pd

        acc: list = []
        for pdf in batches:
            if len(pdf):
                acc.append(pdf)
        if not acc:
            return
        pdf = pd.concat(acc) if len(acc) > 1 else acc[0]
        parent, find = _min_union_find(zip(pdf["a"], pdf["b"]))
        verts = list(parent)
        # fixed-size output slices: a skewed partition must not become
        # one partition-sized Arrow batch (2 GB batch limit / executor
        # memory spike) — the union-find state is dict-of-scalars and
        # stays, only the emitted table is chunked
        for lo in range(0, len(verts), CC_LOCAL_FOLD_CHUNK_ROWS):
            chunk = verts[lo : lo + CC_LOCAL_FOLD_CHUNK_ROWS]
            yield pd.DataFrame({"v": chunk, "r": [find(x) for x in chunk]})

    # per-vertex root set across tasks: r0 = min root (the vertex's
    # candidate component label), rs = every root it was folded into
    per_v = (
        und.repartition("a")
        .mapInPandas(local_fold, f"v {vt}, r {vt}")
        .groupBy("v")
        .agg(F.min("r").alias("r0"), F.collect_set("r").alias("rs"))
        .localCheckpoint(eager=True)
    )
    contracted = per_v.select(
        F.col("r0").alias("ca"), F.explode("rs").alias("cb")
    ).filter(F.col("ca") != F.col("cb"))
    # limit(MAX+1) bounds the driver transfer AND answers "is it over
    # the fold bound" in the same single job a count would cost: a
    # truncated result proves the graph is too big, an untruncated one
    # IS the whole contracted edge list
    probe = contracted.limit(CC_DRIVER_FOLD_MAX_EDGES + 1).collect()
    CC_TELEMETRY["contracted_edges"] = len(probe)

    if not probe:
        # no root ever tied to another: local roots ARE the components
        CC_TELEMETRY["path"] = "local_only"
        return per_v.select("v", F.col("r0").alias("component"))

    if len(probe) <= CC_DRIVER_FOLD_MAX_EDGES:
        import pandas as pd

        CC_TELEMETRY["path"] = "driver_fold"
        parent, find = _min_union_find((r["ca"], r["cb"]) for r in probe)
        roots = list(parent)
        labels_c = spark.createDataFrame(
            pd.DataFrame({"r0": roots, "component": [find(x) for x in roots]}),
            f"r0 {vt}, component {vt}",
        )
        # labels_c is a driver-local relation of bounded size — Spark
        # broadcasts it; roots never tied keep themselves as label
        return per_v.join(labels_c, "r0", "left").select(
            "v", F.coalesce("component", "r0").alias("component")
        )

    # distributed fallback: min-label propagation over the CONTRACTED
    # graph (strictly fewer vertices and hops than the original)
    CC_TELEMETRY["path"] = "distributed"
    und_c = (
        contracted.select(F.col("ca").alias("a"), F.col("cb").alias("b"))
        .unionByName(contracted.select(F.col("cb").alias("a"), F.col("ca").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = und_c.select(F.col("a").alias("v")).distinct().withColumn("label", F.col("v"))

    def hop(lbl):
        # chg flags the rows this hop actually lowered — summing it is
        # an EXACT, type-agnostic fixpoint test (works for string
        # vertices, where the old decimal(38,0) label-sum cast was NULL
        # and NULL == NULL silently declared convergence after one hop)
        nb_min = (
            und_c.join(lbl, und_c["b"] == lbl["v"])
            .select(F.col("a").alias("v"), F.col("label").alias("nb"))
            .groupBy("v")
            .agg(F.min("nb").alias("nb"))
        )
        return lbl.join(nb_min, on="v", how="left").select(
            "v",
            F.least(F.col("label"), F.coalesce("nb", "label")).alias("label"),
            (F.coalesce("nb", "label") < F.col("label")).cast("int").alias("chg"),
        )

    converged = False
    for _ in range(2 * max_iter):
        new = hop(labels).localCheckpoint(eager=True)
        n_changed = new.agg(F.sum("chg").alias("c")).first()["c"] or 0
        labels = new.select("v", "label")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        msg = (
            f"connected_components did not converge in {2 * max_iter} hops: "
            f"labels are partial — clusters may be split"
        )
        if on_non_convergence == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return per_v.join(
        labels.select(F.col("v").alias("r0"), F.col("label").alias("component")),
        "r0",
        "left",
    ).select("v", F.coalesce("component", "r0").alias("component"))


def tfidf_inverted(
    sh: DataFrame, n_docs: int, id_col: str = "doc_id", df_cap: int = 100
) -> DataFrame:
    """The df-capped idf-weighted inverted index (shingle -> sorted doc
    array + integer milli-nat idf) — the narrow, postings-bounded table
    a cluster job persists once and session callers memoize
    (functions.shared), exactly like the jaccard posting counts."""
    return (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("docs"))
        .filter(F.size("docs") <= df_cap)
        .withColumn(
            "idf_x1k",
            F.expr(
                f"CAST(ROUND(LN(CAST({n_docs} AS DOUBLE) / CAST(size(docs) AS DOUBLE))"
                " * 1000) AS BIGINT)"
            ),
        )
        .withColumn("idf2", F.col("idf_x1k") * F.col("idf_x1k"))
    )


def tfidf_pairs_from_inverted(inv: DataFrame, threshold: float = 0.3) -> DataFrame:
    """Pair generation + cosine scoring over a prebuilt
    :func:`tfidf_inverted` table."""
    norms = (
        inv.select(F.explode("docs").alias("d"), "idf2")
        .groupBy("d")
        .agg(F.sum("idf2").alias("nrm2"))
        .filter(F.col("nrm2") > 0)
    )
    x = inv.select(F.posexplode("docs").alias("i", "d1"), "docs", "idf2")
    dots = (
        x.select(
            "d1",
            F.explode(F.slice(F.col("docs"), F.col("i") + F.lit(2), F.size("docs"))).alias("d2"),
            "idf2",
        )
        .groupBy("d1", "d2")
        .agg(F.sum("idf2").alias("dot"))
    )
    n1 = norms.select(F.col("d").alias("d1"), F.col("nrm2").alias("nrm1"))
    n2 = norms.select(F.col("d").alias("d2"), F.col("nrm2").alias("nrm2"))
    return (
        dots.join(n1, "d1")
        .join(n2, "d2")
        .select(
            "d1",
            "d2",
            F.round(
                F.col("dot").cast("double")
                / (F.sqrt(F.col("nrm1").cast("double")) * F.sqrt(F.col("nrm2").cast("double"))),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )

"""Similarity search over embedding columns (array<float>).

- ``cosine(a, b)``: JVM-side expression — zip_with product, sequential
  fold — no Python. Results are rounded to 6 decimals wherever they
  cross an oracle boundary (double summation order differs between
  engines by design; the rounding absorbs last-ulp drift).
- Brute-force top-k: broadcast the (small) query set against the corpus
  — a map-side cross product, no shuffle of the corpus; ranking via a
  per-query window. This is the correctness baseline.
- LSH-bucketed ANN (random hyperplanes, Charikar'02): deterministic
  pseudo-random planes derived from md5 so signatures are
  oracle-reproducible; candidates are pairs sharing a bucket —
  an equi-join, which is the 100 TB-scalable path (the cross product
  never materializes).
- One numpy block kernel (``_block_kernel``, run per applyInPandas
  group) scores every blocked or grouped candidate set, for the
  all-pairs, LSH/IVF verify and kNN-graph entries; same semantics.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays (null-safe on zero norm)."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine_sql(a: str, b: str, dim: int = 64) -> str:
    """DuckDB rendering of :func:`cosine` over DOUBLE[] expressions."""
    prod = f"list_sum(list_transform(generate_series(1, {dim}), i -> {a}[i] * {b}[i]))"
    na = f"sqrt(list_sum(list_transform(generate_series(1, {dim}), i -> {a}[i] * {a}[i])))"
    nb = f"sqrt(list_sum(list_transform(generate_series(1, {dim}), i -> {b}[i] * {b}[i])))"
    return f"({prod} / ({na} * {nb}))"


#: Hard cap on the query-side rows :func:`brute_force_topk` will pull
#: to the driver — same bounded-metadata-collect policy as the IVF
#: centroid literals and the bloom bit array. An exact baseline over
#: more queries than this is an all-pairs job that should not exist.
MAX_BRUTE_QUERIES = 1024


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors for each query vector. Rounded cosine +
    id tie-break keeps ordering deterministic.

    r15: the broadcast-cross-product + HOF-cosine + global-rank-window
    form spent ~0.6 s interpreting zip_with/aggregate lambdas per
    invocation (HOFs do not enter whole-stage codegen) and shuffled
    every scored pair into the window. Now the query matrix (bounded:
    <= MAX_BRUTE_QUERIES rows, enforced with a limit-proof collect —
    the same metadata-scale-collect policy as the IVF centroid
    literals) rides into a mapInPandas kernel that scores each corpus
    batch with one numpy matmul and emits only its LOCAL top-k per
    query; the global rank window then merges <= partitions x nq x k
    rows instead of nq x corpus. Scores are rounded to 6 BEFORE
    ranking, exactly as before — the established rounding absorbs
    matmul-vs-sequential summation ulps (same contract as
    grouped_topk_exact, oracle-verified)."""
    import numpy as np
    from pyspark.sql.window import Window

    from pipe_s_spark.sizing import fan_out, kernel_parts

    q_rows = (
        queries.select(F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv"))
        .limit(MAX_BRUTE_QUERIES + 1)
        .collect()
    )
    if len(q_rows) > MAX_BRUTE_QUERIES:
        raise ValueError(
            f"brute_force_topk: query side exceeds {MAX_BRUTE_QUERIES} rows; "
            "use a blocked/ANN path (grouped_topk_exact, ivf_topk) instead"
        )
    # id dtype follows the caller's schema (r16 advice: the r15 rewrite
    # hardcoded long and silently coerced/crashed non-long ids) — same
    # derive-from-schema discipline as shingles()/simhash()
    qid_type = queries.schema[id_col].dataType.simpleString()
    cid_type = corpus.schema[id_col].dataType.simpleString()
    q_ids = np.asarray([r["query_id"] for r in q_rows])
    qm = _unit_rows(np.array([r["qv"] for r in q_rows], dtype="float64"))
    kk = int(k)

    def local_topk(batches):
        for b in batches:
            ids = b[id_col].to_numpy()
            m = _unit_rows(np.stack(b["_v"].to_numpy()).astype("float64"))
            # sims: nq x batch, rounded BEFORE ranking (parity with the
            # old F.round(cosine(...), 6) -> window order)
            sims = (qm @ m.T).round(6)
            sims[ids[None, :] == q_ids[:, None]] = -2.0  # self-match: never a neighbor
            take = min(kk, sims.shape[1])
            # stable argsort on (-sims) after a stable id sort == the
            # (-cos_sim, neighbor_id) total order of the rank window
            order = np.argsort(ids, kind="stable")
            sims = sims[:, order]
            bids = ids[order]
            top = np.argsort(-sims, axis=1, kind="stable")[:, :take]
            vals = np.take_along_axis(sims, top, axis=1)
            keep = (vals > -1.5).ravel()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, take)[keep],
                    "neighbor_id": bids[top].ravel()[keep],
                    "cos_sim": vals.ravel()[keep],
                }
            )

    c = fan_out(
        corpus.select(id_col, as_double_array(vec_col).alias("_v")),
        by=[id_col],
        max_parts=kernel_parts(corpus.sparkSession),
    )
    local = c.mapInPandas(
        local_topk, schema=f"query_id {qid_type}, neighbor_id {cid_type}, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return local.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


#: Number of hyperplanes for the LSH bucket signature. 8 planes = 256
#: buckets — a TEST-SCALE setting. Buckets partition the corpus, so
#: expected bucket size is n / 2^planes and the bucket self-join costs
#: O(n^2 / 2^planes): planes MUST grow ~log2(n) to keep bucket size
#: (and recall/cost) constant as the corpus grows. Rule of thumb:
#: planes ≈ log2(n / target_bucket_size); at n = 10^10 docs with
#: ~1000-vector buckets that is ~23 planes. Degenerate buckets (e.g.
#: mass-duplicate embeddings all hashing identically) are additionally
#: bounded by the caller-side group cap (queries_llm_shared.SIM_BUCKET_CAP /
#: dedup.cap_group_size).
LSH_PLANES = 8


def plane_weight_value(plane: int, dim_idx: int) -> float:
    """Deterministic pseudo-random weight in [-0.5, 0.5): first 4 hex
    chars of md5('p{plane}d{dim}') scaled. Computed once driver-side --
    the planes are constants, so hashing per-row in the engine (or the
    oracle) would be pure waste; both sides inline the same literals."""
    import hashlib

    h = int(hashlib.md5(f"p{plane}d{dim_idx}".encode()).hexdigest()[:4], 16)
    return h / 65536.0 - 0.5


def lsh_bucket(
    vec: Column, planes: int = LSH_PLANES, dim: int = 64, plane_offset: int = 0
) -> Column:
    """Random-hyperplane signature: bit p = (dot(vec, plane_p) > 0),
    with the plane matrix inlined as array literals (narrow map, no
    per-row hashing). ``plane_offset`` selects a disjoint plane set so
    multi-table LSH (:func:`lsh_candidates_multi`) gets independent
    hash tables from the same deterministic family."""
    bits = []
    for p in range(planes):
        w = F.array(
            *[F.lit(plane_weight_value(plane_offset + p, i)) for i in range(1, dim + 1)]
        )
        d = F.aggregate(
            F.zip_with(vec, w, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        bits.append(F.when(d > 0, F.lit(2**p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def lsh_bucket_sql(
    vec: str, dim: int = 64, planes: int = LSH_PLANES, plane_offset: int = 0
) -> str:
    """DuckDB rendering with the identical literal plane matrix.
    ``plane_offset`` mirrors :func:`lsh_bucket`'s disjoint-plane-set
    selector so multi-table LSH oracles replay the same hash family."""
    terms = []
    for p in range(planes):
        ws = ", ".join(
            repr(plane_weight_value(plane_offset + p, i)) for i in range(1, dim + 1)
        )
        d = (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> {vec}[i] * (ARRAY[{ws}]::DOUBLE[])[i]))"
        )
        terms.append(f"(CASE WHEN {d} > 0 THEN {2**p} ELSE 0 END)")
    return "CAST((" + " + ".join(terms) + ") AS INTEGER)"


#: Target bucket occupancy for the corpus-sized LSH signature. Verify
#: work per bucket is O(bucket^2) cosines, so a 64-row target keeps the
#: per-bucket verify at ~2K scores while total candidate volume stays
#: ~target * n — LINEAR in the corpus (the pinned planes=LSH_PLANES
#: form is n^2 / 2^planes, quadratic once n outgrows 2^planes).
AUTO_PLANES_TARGET = 64

#: Hard ceiling on the derived plane count (bucket id stays int32-safe).
AUTO_PLANES_MAX = 30


def auto_planes(
    n_rows: int,
    target_bucket_rows: int = AUTO_PLANES_TARGET,
    max_planes: int = AUTO_PLANES_MAX,
) -> int:
    """Corpus-sized plane count in EXACT integer arithmetic: the
    smallest p in [LSH_PLANES, max_planes] with target * 2^p >= n
    (i.e. ceil(log2(n / target)) clamped — the ``LSH_PLANES`` rule of
    thumb without the float log2, so an SQL oracle computing the same
    comparison chain from COUNT(*) matches bit-for-bit at every
    boundary)."""
    for p in range(LSH_PLANES, max_planes + 1):
        if (target_bucket_rows << p) >= n_rows:
            return p
    return max_planes


def auto_planes_sql(
    count_from: str = "embeddings",
    target_bucket_rows: int = AUTO_PLANES_TARGET,
    max_planes: int = AUTO_PLANES_MAX,
) -> str:
    """DuckDB CTE body (one row, column ``planes``) replaying
    :func:`auto_planes` from a live COUNT(*) — same integer shift
    comparison, same clamp."""
    return (
        f"SELECT COALESCE(MIN(p), {max_planes}) AS planes "
        f"FROM generate_series({LSH_PLANES}, {max_planes}) t(p), "
        f"(SELECT COUNT(*) AS n FROM {count_from}) n "
        f"WHERE (CAST({target_bucket_rows} AS BIGINT) << p) >= n.n"
    )


def lsh_bucket_gated_sql(
    vec: str,
    planes_expr: str,
    dim: int = 64,
    max_planes: int = AUTO_PLANES_MAX,
    plane_offset: int = 0,
) -> str:
    """DuckDB bucket signature whose plane COUNT is a runtime scalar
    (``planes_expr``, e.g. the :func:`auto_planes_sql` CTE's column):
    all ``max_planes`` literal plane dots are emitted, each bit gated
    by ``p < planes``. Matches :func:`lsh_bucket` called with
    ``planes=auto_planes(n)`` for any n the gate can reach.
    ``plane_offset`` selects a disjoint plane range for multi-table
    use — it must be a STATIC stride (e.g. table * PLANE_STRIDE), not
    a multiple of the runtime plane count, because the literal weights
    are baked per global plane index."""
    terms = []
    for p in range(max_planes):
        ws = ", ".join(
            repr(plane_weight_value(plane_offset + p, i)) for i in range(1, dim + 1)
        )
        d = (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> {vec}[i] * (ARRAY[{ws}]::DOUBLE[])[i]))"
        )
        terms.append(
            f"(CASE WHEN {p} < {planes_expr} AND {d} > 0 THEN {2**p} ELSE 0 END)"
        )
    return "CAST((" + " + ".join(terms) + ") AS INTEGER)"


#: Static per-table plane-index stride for COUNT-ADAPTIVE multi-table
#: LSH: table t draws its planes from global indices
#: [t*PLANE_STRIDE, t*PLANE_STRIDE + planes). A static stride (>= the
#: AUTO_PLANES_MAX cap) keeps each table's literal plane matrix
#: independent of the runtime plane count — the property that lets a
#: SQL oracle bake the weights while the count still derives from
#: COUNT(*). (The default offset t*planes would make plane IDENTITY
#: depend on the derived count.)
PLANE_STRIDE = 32


#: Number of IVF cells (coarse-quantizer partitions).
IVF_CELLS = 8


def ivf_centroid(cell: int, dim: int = 64) -> list[float]:
    """Deterministic unit-norm pseudo-random centroid for IVF cell
    ``cell`` (md5-derived like :func:`plane_weight_value`, then
    normalized so dot(v, c) ranks cells by cosine). A production IVF
    trains centroids with k-means on a sample; the deterministic
    variant keeps the oracle bit-reproducible while exercising the
    identical query plan (assign -> probe -> cell equi-join)."""
    import hashlib
    import math

    raw = [
        int(hashlib.md5(f"c{cell}d{i}".encode()).hexdigest()[:4], 16) / 65536.0 - 0.5
        for i in range(1, dim + 1)
    ]
    n = math.sqrt(sum(x * x for x in raw))
    return [x / n for x in raw]


def ivf_cell_dots(vec: Column, n_cells: int = IVF_CELLS, dim: int = 64) -> Column:
    """array of dot(vec, centroid_c) for every cell — a NARROW map-side
    expression (no shuffle, no UDF); the literal centroid matrix is
    folded into codegen."""
    return F.array(
        *[
            dot(vec, F.array(*[F.lit(w) for w in ivf_centroid(c, dim)]))
            for c in range(n_cells)
        ]
    )


def ivf_assign(vec: Column, n_cells: int = IVF_CELLS, dim: int = 64) -> Column:
    """IVF cell id = argmax_c dot(vec, centroid_c); first index wins
    ties (matches the oracle's ORDER BY d DESC, cell ASC)."""
    d = ivf_cell_dots(vec, n_cells, dim)
    return (F.array_position(d, F.array_max(d)) - 1).cast("int")


def ivf_probes(vec: Column, nprobe: int, n_cells: int = IVF_CELLS, dim: int = 64) -> Column:
    """Top-``nprobe`` cells for a query vector, as an int array ordered
    by descending dot (ties -> smaller cell id), computed narrowly."""
    d = ivf_cell_dots(vec, n_cells, dim)
    ranked = F.array_sort(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_cells - 1)),
            lambda i: F.struct(
                (-F.element_at(d, i + 1)).alias("nd"), i.cast("int").alias("i")
            ),
        )
    )
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["i"])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    n_cells: int = IVF_CELLS,
    assign: DataFrame | None = None,
    probes: DataFrame | None = None,
    probes_depth: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: assign corpus rows to their nearest
    centroid cell (narrow expression — at 100 TB this is a pure map over
    the scan), explode each query to its ``nprobe`` best cells, equi-join
    on cell id, exact-rank candidates per query. The corpus is shuffled
    once by cell (or not at all if the table is already written
    partitioned by cell — the intended layout at scale); the cross
    product never materializes, and recall is tunable via nprobe.

    ``assign``: optional pre-built (id_col, cell) corpus assignment —
    the persisted inverted-file layout (r15: the inline assignment
    expression is a literal-centroid tree whose per-invocation Catalyst
    analysis dominates small corpora; a session/table-backed assignment
    is also the production shape). ``probes``: optional pre-ranked
    (query_id, rank0, cell) probe table; rows with rank0 < ``nprobe``
    are used — the ranked prefix is identical to probing at ``nprobe``
    directly. ``probes_depth`` (REQUIRED with ``probes``) declares how
    many ranked cells the table was built with; a table built shallower
    than ``nprobe`` would silently probe fewer cells and degrade recall
    (r16 advice), so the mismatch fails loudly here instead."""
    from pyspark.sql.window import Window

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    )
    if assign is None:
        c = c.withColumn("cell", ivf_assign(F.col("cv"), n_cells))
    else:
        # no broadcast hint: the assignment table is corpus-sized (one
        # row per vector) — forcing a driver-side hash build is the
        # fact-sized-broadcast anti-pattern at scale (r16 advice). The
        # planner auto-broadcasts it at bench scale; at scale the
        # intended layout is both sides partitioned by id/cell.
        c = c.join(
            assign.select(F.col(id_col).alias("neighbor_id"), "cell"),
            "neighbor_id",
        )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    )
    if probes is None:
        q = q.withColumn("cell", F.explode(ivf_probes(F.col("qv"), nprobe, n_cells)))
    else:
        if probes_depth is None:
            raise ValueError("probes requires probes_depth (the nprobe_max it was built with)")
        if probes_depth < nprobe:
            raise ValueError(
                f"probes table ranked to {probes_depth} cells cannot serve nprobe={nprobe}"
            )
        q = q.join(
            F.broadcast(probes.filter(F.col("rank0") < nprobe).select("query_id", "cell")),
            "query_id",
        )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def ivf_cells_values_sql(n_cells: int = IVF_CELLS, dim: int = 64) -> str:
    """DuckDB VALUES table of the identical literal centroid matrix."""
    rows = ", ".join(
        f"({c}, ARRAY[{', '.join(repr(w) for w in ivf_centroid(c, dim))}]::DOUBLE[])"
        for c in range(n_cells)
    )
    return f"(VALUES {rows}) AS cells(cell, cv)"


#: Decimals every cosine rounds to before it is thresholded, ranked or
#: emitted (the oracle's ROUND(..., 6)): the rounding absorbs the
#: last-ulp drift between matmul and sequential summation.
ROUND_TO = 6

#: Hash blocks of the exact all-pairs block-matrix join: B blocks give
#: B * (B + 1) / 2 block-pair groups, each holding at most 2n/B rows.
NUM_BLOCKS = 4

#: Elements of one batched score matrix (~16 MB of float64): bounds
#: worker memory however many groups share a size class.
_BLOCK_BUDGET = 2_000_000


def _decode(col: pd.Series, packed: bool, dtype: str):
    """Row matrix of an array column, or of little-endian ``dtype``
    bytes (``ndarray.tobytes()``) when ``packed``."""
    import numpy as np

    if packed:
        return np.frombuffer(b"".join(col), dtype=dtype).reshape(len(col), -1)
    return np.stack(col.to_numpy()).astype(dtype)


def _unit_rows(m):
    """Rows scaled to unit norm; a zero row stays zero, so its cosine
    is 0.0 against everything, never NaN (NaN would rank first in a
    desc window and last in an ascending aggregate)."""
    import numpy as np

    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(n == 0.0, 1.0, n)


def _cosine(packed: bool = False):
    """Exact-cosine scorer over ``_v``: unit rows, one matmul."""
    import numpy as np

    def prepare(left, right):
        lm = _unit_rows(_decode(left["_v"], packed, "<f8"))
        rm = lm if right is left else _unit_rows(_decode(right["_v"], packed, "<f8"))
        return lm, rm, lambda a, b: np.matmul(a, b.swapaxes(1, 2))

    return prepare


def _adc(m: int, k_codes: int, packed: bool, books, dim: int):
    """ADC scorer: query LUTs (``_v``; built here from the packed int64
    query when ``books`` is given) against member PQ codes (``_w``).
    Scores are exact int64 sums of m LUT entries, computed as
    ``LUT @ onehot(codes)`` when m * max|LUT| < 2^53 keeps every float64
    partial sum an exact integer, else by an int64 gather loop."""
    import numpy as np

    books_np = _pq_books_np(books, m, k_codes) if books is not None else None
    sub = dim // m

    def gather(a, b):
        s = np.zeros((a.shape[0], a.shape[1], b.shape[1]), dtype="int64")
        for j in range(m):
            s += np.take_along_axis(a, b[:, None, :, j] + j * k_codes, axis=2)
        return s

    def prepare(left, right):
        if books_np is None:
            lut = _decode(left["_v"], packed, "<i8")
        else:
            xq = _decode(left["_v"], True, "<i8")
            lut = np.zeros((len(xq), m * k_codes), dtype="int64")
            for j, (live, cw, _csq) in enumerate(books_np):
                lut[:, j * k_codes + live] = _fold_dot_np(xq[:, j * sub : (j + 1) * sub], cw)
        codes = _decode(right["_w"], False, "int64")
        if m * (np.abs(lut).max() if lut.size else 0) >= 2**53:
            return lut, codes, gather
        onehot = np.zeros((len(codes), m * k_codes))
        onehot[np.arange(len(codes))[:, None], codes + np.arange(m) * k_codes] = 1.0
        return (
            lut.astype("float64"),
            onehot,
            lambda a, b: np.matmul(a, b.swapaxes(1, 2)).astype("int64"),
        )

    return prepare


def _threshold(thr: float):
    """Pair emitter: id_l < id_r and round6(score) >= ``thr``. Preselects
    unrounded at thr - 1e-6 (rounding is monotone and moves a value by
    at most 0.5e-6), so only the survivors are rounded."""
    import numpy as np

    def emit(s, idl, idr, own):
        w, r, c = np.nonzero(s >= thr - 1e-6)
        v = s[w, r, c].round(ROUND_TO)
        keep = (v >= thr) & (idl[w, r] < idr[w, c]) & own(w, r, c)
        return w[keep], r[keep], c[keep], v[keep]

    return emit


def _topk(k: int):
    """Per-row top-``k`` emitter under (-round6(score), neighbor_id),
    excluding id_l == id_r. The k-th largest raw score bounds the
    candidates (a 2e-6 margin covers rounding; int scores need none),
    and one lexsort over all rows' survivors picks the first k."""
    import numpy as np

    def emit(s, idl, idr, own):
        g, a, b = s.shape
        valid = (idl[:, :, None] != idr[:, None, :]) & own(*np.ogrid[:g, :a, :b])
        exact = s.dtype.kind == "i"
        # finite sentinels: np.partition degrades ~80x on -inf
        s = np.where(valid, s, -(2**62) if exact else -2.0)
        kth = np.partition(s, b - min(k, b), axis=2)[:, :, b - min(k, b), None]
        w, r, c = np.nonzero(valid & (s >= kth - (0 if exact else 2e-6)))
        v = s[w, r, c] if exact else s[w, r, c].round(ROUND_TO)
        row = w * a + r
        o = np.lexsort((idr[w, c], -v, row))
        o = o[np.arange(len(o)) - np.searchsorted(row[o], row[o]) < k]
        return w[o], r[o], c[o], v[o]

    return emit


def _anyone(w, r, c):
    """Ownership mask of groups that own all their pairs."""
    return True


def _owned(bl, br, g):
    """Ownership mask of block-pair groups ``g = ba * NUM_BLOCKS + bb``
    over the blocks ``bl``/``br`` of their left/right rows: a pair is
    owned when its (min, max) block pair is (ba, bb). Every row of the
    group sits in block ba or bb, so off the diagonal that means the
    two blocks differ."""
    diag = g // NUM_BLOCKS == g % NUM_BLOCKS
    return lambda w, r, c: (bl[w, r] != br[w, c]) | diag[w]


def _by_group(frame: pd.DataFrame):
    """Row order sorting ``frame`` by (_g, _id), with the sorted frame's
    group keys, run starts and run lengths."""
    import numpy as np

    g = frame["_g"].to_numpy()
    order = np.lexsort((frame["_id"].to_numpy(), g))
    g = g[order]
    starts = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
    return order, g[starts], starts, np.diff(np.r_[starts, len(g)])


def _block_kernel(pdf, score, emit, names, group=None, cap=None) -> pd.DataFrame:
    """Score the rows of one Spark group that share ``_g`` and emit
    (left id, right id[, group], score) rows under ``names``.

    ``pdf`` holds ``_g``, ``_id`` and the scorer's payload columns.
    With a ``_role`` column, query rows ('q') meet member rows ('m');
    without it, the rows meet each other. ``_blk`` marks block-pair
    groups (``_g = ba * NUM_BLOCKS + bb``): such a group emits only
    pairs whose (min, max) block pair is its own. Groups of equal
    shape are scored as one batched matmul under ``_BLOCK_BUDGET``; a
    group too large for it alone is scored in row chunks. ``cap`` skips
    groups with more left rows than it."""
    import numpy as np

    roles = pdf["_role"].to_numpy() if "_role" in pdf else None
    left, right = (pdf, pdf) if roles is None else (pdf[roles == "q"], pdf[roles == "m"])
    parts = []
    if len(left) and len(right):
        lm, rm, scorer = score(left, right)
        ol, keys, ls, ln = _by_group(left)
        lm, idl = lm[ol], left["_id"].to_numpy()[ol]
        if roles is None:
            rm, idr, rs, rn = lm, idl, ls, ln
        else:
            orr, rkeys, rs, rn = _by_group(right)
            rm, idr = rm[orr], right["_id"].to_numpy()[orr]
            keys, il, ir = np.intersect1d(keys, rkeys, assume_unique=True, return_indices=True)
            ls, ln, rs, rn = ls[il], ln[il], rs[ir], rn[ir]
        blk = pdf["_blk"].to_numpy()[ol] if "_blk" in pdf else None
        live = ln <= (cap if cap is not None else len(pdf))
        d = max(lm.shape[1], rm.shape[1])
        for a, b in np.unique(np.c_[ln, rn][live], axis=0):
            sel = np.flatnonzero(live & (ln == a) & (rn == b))
            if a * b <= _BLOCK_BUDGET:
                step = max(1, _BLOCK_BUDGET // (a * max(b, d)))
                chunks = [(sel[i : i + step], 0, a) for i in range(0, len(sel), step)]
            else:
                rows = max(1, _BLOCK_BUDGET // max(b, d))
                chunks = [
                    (sel[i : i + 1], lo, min(lo + rows, a))
                    for i in range(len(sel))
                    for lo in range(0, a, rows)
                ]
            for grp, lo, hi in chunks:
                xl = ls[grp][:, None] + np.arange(lo, hi)
                xr = rs[grp][:, None] + np.arange(b)
                own = _anyone if blk is None else _owned(blk[xl], blk[xr], keys[grp])
                w, r, c, v = emit(scorer(lm[xl], rm[xr]), idl[xl], idr[xr], own)
                parts.append((idl[xl][w, r], idr[xr][w, c], keys[grp][w], v))
    cols = [np.concatenate(p) for p in zip(*parts)] if parts else [np.zeros(0, "int64")] * 4
    out = {names[0]: cols[0], names[1]: cols[1], names[2]: cols[3]}
    if group is not None:
        out[group] = cols[2]
    return pd.DataFrame(out)


def _block_pairs(corpus: DataFrame, id_col: str, vec_col: str):
    """Each row replicated, by a narrow explode, to every block-pair
    group ``_g = min(blk, o) * NUM_BLOCKS + max(blk, o)`` its hash block
    ``_blk`` joins, grouped by ``_g``."""
    blk = F.pmod(F.hash(F.col(id_col)), F.lit(NUM_BLOCKS))
    pairs = F.transform(
        F.sequence(F.lit(0), F.lit(NUM_BLOCKS - 1)),
        lambda o: F.least("_blk", o) * NUM_BLOCKS + F.greatest("_blk", o),
    )
    rows = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), blk.alias("_blk"))
    return rows.withColumn("_g", F.explode(pairs)).groupBy("_g")


def _keyed(corpus: DataFrame, group_col: str, id_col: str, vec_col: str, coarse_mod):
    """Rows as (_g, _id, _v), grouped by ``_g``, or by ``_g % coarse_mod``
    when given: coarse keys only change which Spark group a block lands
    in, the kernel splits them back by ``_g``."""
    rows = corpus.select(
        F.col(group_col).alias("_g"), F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )
    key = F.col("_g") if coarse_mod is None else F.col("_g") % F.lit(int(coarse_mod))
    return rows.groupBy(key.alias("_ck"))


def _role_union(queries, members, group_col, query_id, id_col, q_payload, m_payload):
    """Query rows (role 'q') and member rows (role 'm') in one frame,
    grouped by ``_g``; each side's payload columns are null on the other."""

    def side(df, role, ids, payload):
        return df.select(
            F.col(group_col).alias("_g"),
            F.lit(role).alias("_role"),
            F.col(ids).alias("_id"),
            *payload,
        )

    return (
        side(queries, "q", query_id, q_payload)
        .unionByName(side(members, "m", id_col, m_payload), allowMissingColumns=True)
        .groupBy("_g")
    )


def threshold_pairs_blocked(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
) -> DataFrame:
    """All pairs (id1 < id2) with round6(cosine) >= ``threshold``: the
    exact brute-force contract, with no driver-side collect. Rows are
    hashed into NUM_BLOCKS blocks and replicated to every block-pair
    group they join (n * B rows, one shuffle); each group is scored in
    one kernel call and emits only the pairs it owns, so nothing
    double-counts. Per-task memory is bounded by 2n/B rows; for
    approximate near-dup at scale, verify LSH buckets instead."""
    return _block_pairs(corpus, id_col, vec_col).applyInPandas(
        lambda pdf: _block_kernel(
            pdf, _cosine(), _threshold(threshold), ("id1", "id2", "cos_sim")
        ),
        schema="id1 long, id2 long, cos_sim double",
    )


def grouped_pairs_exact(
    corpus: DataFrame,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    coarse_mod: int | None = None,
    cap: int | None = None,
    packed: bool = False,
) -> DataFrame:
    """Within-group pairs (id1 < id2, group, cos_sim) with round6(cosine)
    >= ``threshold``: the exact-verify stage of any blocking scheme
    (k-means cells, LSH buckets). Work is the sum of squared group
    sizes; ``cap`` drops every group larger than ``cap`` rows (the
    whole-group drop of ``dedup.cap_group_size``, without its
    count-window shuffle).

    ``coarse_mod=K`` shuffles on ``group_col % K`` (a numeric
    non-negative key) instead of the group itself: applyInPandas pays
    a fixed cost per Spark group, so thousands of small LSH buckets
    cost more in overhead than in FLOPs. Output rows are identical.

    ``packed=True``: ``vec_col`` holds float64 little-endian bytes,
    which Arrow ships as one buffer instead of per-element lists."""
    g_type = corpus.schema[group_col].dataType.simpleString()
    return _keyed(corpus, group_col, id_col, vec_col, coarse_mod).applyInPandas(
        lambda pdf: _block_kernel(
            pdf, _cosine(packed), _threshold(threshold), ("id1", "id2", "cos_sim"), group_col, cap
        ),
        schema=f"id1 long, id2 long, {group_col} {g_type}, cos_sim double",
    )


def grouped_knn_candidates(
    corpus: DataFrame,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    coarse_mod: int = 256,
    cap: int | None = None,
    packed: bool = False,
) -> DataFrame:
    """Per-group directed local top-k for kNN-graph building: within
    every ``group_col`` block each member emits (node_id, neighbor_id,
    cos_sim) for its ``k`` best partners under (-round6(cos), id),
    instead of every verified pair. Local and global ranking share that
    total order, so the union of a node's per-group lists contains its
    global top-k and the caller's dedup + rank window yields the same
    graph from <= groups-per-node x k rows per node. ``coarse_mod``,
    ``cap`` and ``packed`` are as in :func:`grouped_pairs_exact`."""
    return _keyed(corpus, group_col, id_col, vec_col, coarse_mod).applyInPandas(
        lambda pdf: _block_kernel(
            pdf, _cosine(packed), _topk(k), ("node_id", "neighbor_id", "cos_sim"), cap=cap
        ),
        schema="node_id long, neighbor_id long, cos_sim double",
    )


def grouped_topk_exact(
    queries: DataFrame,
    members: DataFrame,
    group_col: str,
    query_id: str = "query_id",
    q_vec: str = "q_emb",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Per-group exact-cosine local top-k: each query row meets the
    member rows sharing its ``group_col`` (an IVF probe cell, an LSH
    bucket) and emits (query_id, neighbor_id, cos_sim) for its ``k``
    best members under (-round6(cos), neighbor_id), excluding members
    whose id equals the query id. Members cross the wire once per group
    instead of once per candidate pair; the union of a query's
    per-group lists contains its global top-k. Cap member group size
    upstream."""
    return _role_union(
        queries, members, group_col, query_id, id_col,
        [F.col(q_vec).alias("_v")], [F.col(vec_col).alias("_v")],
    ).applyInPandas(
        lambda pdf: _block_kernel(
            pdf, _cosine(), _topk(k), ("query_id", "neighbor_id", "cos_sim")
        ),
        schema="query_id long, neighbor_id long, cos_sim double",
    )


def grouped_adc_topk(
    queries: DataFrame,
    members: DataFrame,
    group_col: str,
    query_id: str = "query_id",
    lut_col: str = "lut",
    id_col: str = "vec_id",
    codes_col: str = "codes",
    m: int | None = None,
    k_codes: int | None = None,
    k: int = 5,
    packed: bool = False,
    books: dict[tuple[int, int], list[int]] | None = None,
    dim: int = 64,
) -> DataFrame:
    """Per-group ADC local top-k: :func:`grouped_topk_exact` in the PQ
    domain. Each query row (carrying its m*k LUT) meets the member rows
    (carrying m PQ codes) sharing its ``group_col`` and emits
    (query_id, neighbor_id, adc_dot) for its ``k`` best members under
    (-adc_dot, neighbor_id), excluding self-matches. Scores are exact
    int64 sums of LUT entries. ``m``/``k_codes`` default to the module
    PQ geometry; ``packed=True`` reads the LUT as little-endian int64
    bytes.

    With ``books`` (a pq_train_int codebook dict), ``lut_col`` carries
    the packed int64 query ``xq`` (pq_encode_table(pack_xq=True)'s
    ``xqb``) and the kernel builds each LUT with the same _fold_dot_np
    fold pq_lut_table uses, so scores are bit-identical while the probe
    column shrinks 8x."""
    m = PQ_M if m is None else m
    k_codes = PQ_K if k_codes is None else k_codes
    return _role_union(
        queries, members, group_col, query_id, id_col,
        [F.col(lut_col).alias("_v")], [F.col(codes_col).alias("_w")],
    ).applyInPandas(
        lambda pdf: _block_kernel(
            pdf,
            _adc(m, k_codes, packed, books, dim),
            _topk(k),
            ("query_id", "neighbor_id", "adc_dot"),
        ),
        schema="query_id long, neighbor_id long, adc_dot long",
    )


def knn_graph_blocked(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact corpus-wide kNN graph (node_id, neighbor_id, cos_sim, rk):
    each vector's top-k cosine neighbors under (-round6(cos),
    neighbor_id), over the block-pair groups of
    :func:`threshold_pairs_blocked`. A row pair meets in exactly one
    group, whose local top-k lists therefore contain the global top-k;
    a window partitioned by node ranks them. Candidate volume is
    n * B * k rows; for approximate graphs at corpus scale, rank
    :func:`grouped_knn_candidates` over
    :func:`multi_table_signatures` instead."""
    from pyspark.sql.window import Window

    cand = _block_pairs(corpus, id_col, vec_col).applyInPandas(
        lambda pdf: _block_kernel(pdf, _cosine(), _topk(k), ("node_id", "neighbor_id", "cos_sim")),
        schema="node_id long, neighbor_id long, cos_sim double",
    )
    w = Window.partitionBy("node_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("node_id", "neighbor_id", "cos_sim", "rk")
    )


def multi_table_signatures(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    planes: int = LSH_PLANES,
    dim: int = 64,
    plane_stride: int | None = None,
    multiprobe: bool = False,
    probe_bits: int | None = None,
    packed: bool = False,
) -> DataFrame:
    """All ``n_tables`` tables' bucket signatures per vector in ONE
    Arrow kernel pass, emitted as ``(gk, id, v)`` with
    ``gk = table_id * 2^planes + bucket`` (collision-free: buckets are
    < 2^planes; long, since auto-sized signatures reach 2^30 buckets).

    ``multiprobe=True`` additionally emits, per table, ``planes``
    MASKED keys (bucket with bit j zeroed, j = 0..planes-1): two
    signatures at Hamming distance exactly 1 (differing in bit j)
    share the j-masked key, and distance-0 pairs share the full key —
    so within-key pairs are exactly the Hamming<=1 candidate set, the
    standard radius-1 multiprobe (Lv et al., VLDB'07) re-expressed so
    the candidate join STAYS an equi-join (no ball-expansion join, no
    bit_count theta-join — the thing that survives 100 TB). Keys
    become ``gk = (table*(planes+1) + m) * 2^planes + masked_bucket``
    with m = 0 for the full key, j+1 for the j-masked key: 1+planes
    keys per vector per table, i.e. a LINEAR (1+planes) row/cost
    multiplier that buys a ~(1 + planes*(1-q)/q) per-table recall
    multiplier (q = per-plane agreement probability) — the cheapest
    recall per FLOP lever once tables alone saturate.

    ``probe_bits=T`` makes the probing QUERY-DIRECTED (Lv et al.'s
    actual scheme): instead of masking every bit, each vector emits
    masked keys only for the T planes with the smallest |dot| — the
    bits that actually flip between near neighbors, since a
    high-cosine pair's dots are close and a disagreeing bit means one
    of them sits near the hyperplane. A distance-1 pair (differing in
    bit j) is found iff BOTH rank j among their own T smallest
    margins, which for true neighbors is exactly where the shared
    small margin lives. Cuts the key multiplier from 1+planes to 1+T
    (sub-log in n) while keeping most of the radius-1 recall. Ranking
    is ascending (|dot|, plane) with a STABLE argsort so the SQL
    oracle's list_sort of (abs, idx) structs replays the identical
    choice, ties included.

    ``packed=True`` emits ``v`` as float64 little-endian BYTES instead
    of array<double>: the signature stage multiplies row count by
    tables x probes, and Arrow's list<double> pandas conversion (paid
    per element) becomes the dominant cost of the whole candidate
    pipeline — measured ~2.1 s of a 4.7 s sf0.1 multiprobe graph just
    to SHIP the signatures. Bytes are bit-exact, so downstream cosines
    are unchanged; pair the flag with grouped_pairs_exact(packed=True).

    The expression form (:func:`lsh_bucket` per table) builds
    L x planes x dim literal Columns — ~10s of py4j plan construction
    at L=16 before any data moves — and evaluates interpreted HOF
    folds per row; the kernel computes the same plane dots in numpy
    with LEFT-TO-RIGHT accumulation (NOT matmul), so every dot's SIGN
    — hence every bucket — is bit-identical to F.aggregate's
    sequential fold and to DuckDB's list_sum (the parity
    sim_knn_graph_lsh's oracle replay rests on; pinned by
    tests/test_ann_recall.py).

    ``plane_stride``: spacing of each table's global plane indices
    (table t uses [t*stride, t*stride + planes)). Default None =
    ``planes`` (tables pack contiguously — the lsh_bucket
    plane_offset=t*planes family); pass :data:`PLANE_STRIDE` when the
    plane COUNT is corpus-derived, so plane identity stays static and
    a SQL oracle can bake the literal weights."""
    import numpy as np

    stride = planes if plane_stride is None else plane_stride
    if stride < planes:
        raise ValueError(f"plane_stride {stride} < planes {planes}: tables overlap")
    # (L*planes) x dim plane matrix, row t*planes+p = table t's plane p
    W = np.array(
        [
            [plane_weight_value(t * stride + p, i) for i in range(1, dim + 1)]
            for t in range(n_tables)
            for p in range(planes)
        ],
        dtype="float64",
    )
    pw = 2 ** np.arange(planes, dtype="int64")

    def sig_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(pdf["v"].to_numpy()).astype("float64")
            # LEFT-TO-RIGHT accumulation: a reordered sum can flip a
            # near-zero plane dot and move a vector across buckets
            dots = np.zeros((v.shape[0], W.shape[0]), dtype="float64")
            for i in range(dim):
                dots += v[:, i : i + 1] * W[None, :, i]
            bits = (dots > 0).astype("int64")
            ids = pdf["id"].to_numpy()
            if packed:
                # one bytes object per row, SHARED by reference across
                # all (table, probe) frames — the concat below copies
                # references, not buffers. Explicit '<f8' (no-copy on
                # LE hosts): every consumer decodes little-endian, and
                # native-order tobytes() on a big-endian executor would
                # silently corrupt every cosine downstream.
                v_le = v.astype("<f8", copy=False)
                vcol = np.array([row.tobytes() for row in v_le], dtype=object)
            else:
                vcol = pdf["v"].to_numpy()
            frames = []
            for t in range(n_tables):
                tdots = dots[:, t * planes : (t + 1) * planes]
                bucket = bits[:, t * planes : (t + 1) * planes] @ pw
                if not multiprobe:
                    frames.append(
                        pd.DataFrame(
                            {
                                "gk": t * (2**planes) + bucket,
                                "id": ids,
                                "v": vcol,
                            }
                        )
                    )
                    continue
                width = planes + 1
                if probe_bits is not None and probe_bits < planes:
                    # query-directed: per row, mask only the probe_bits
                    # planes with the smallest |dot| (stable argsort ==
                    # the oracle's list_sort of (abs, idx) structs)
                    order = np.argsort(np.abs(tdots), axis=1, kind="stable")
                    chosen = np.zeros((len(ids), planes), dtype=bool)
                    np.put_along_axis(chosen, order[:, :probe_bits], True, axis=1)
                else:
                    chosen = None
                # m = 0: full bucket; m = j+1: bit j zeroed
                # (b - (b & mask) == b & ~mask, kept as arithmetic
                # so the SQL oracle needs no bitwise NOT)
                frames.append(
                    pd.DataFrame(
                        {
                            "gk": (t * width) * (2**planes) + bucket,
                            "id": ids,
                            "v": vcol,
                        }
                    )
                )
                for m in range(1, width):
                    mb = bucket - (bucket & (1 << (m - 1)))
                    if chosen is None:
                        sel = slice(None)
                        mbs, idss, vs = mb, ids, vcol
                    else:
                        sel = chosen[:, m - 1]
                        if not sel.any():
                            continue
                        mbs, idss, vs = mb[sel], ids[sel], vcol[sel]
                    frames.append(
                        pd.DataFrame(
                            {
                                "gk": (t * width + m) * (2**planes) + mbs,
                                "id": idss,
                                "v": vs,
                            }
                        )
                    )
            yield pd.concat(frames)

    vtype = "binary" if packed else "array<double>"
    # r15: fan_out before the kernel — on a low-parallelism scan the
    # whole signature pass ran in ONE Python worker (profiled 0.76 s
    # serial); no-op at cluster scale (sizing.fan_out).
    from pipe_s_spark.sizing import fan_out, kernel_parts

    return fan_out(
        corpus.select(F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")),
        by=["id"],
        max_parts=kernel_parts(corpus.sparkSession),
    ).mapInPandas(sig_kernel, schema=f"gk long, id long, v {vtype}")


def lsh_candidates_multi(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    planes: int = LSH_PLANES,
    cap: int = 1000,
    threshold: float = 0.45,
    plane_stride: int | None = None,
    multiprobe: bool = False,
    probe_bits: int | None = None,
    coarse_mod: int | None = None,
) -> DataFrame:
    """OR-amplified hyperplane LSH: ``n_tables`` independent hash
    tables (disjoint plane sets), union of within-bucket candidates,
    exact-cosine verify — the standard recall amplifier (MMDS ch.3).

    One table of p planes finds a cos=s pair with probability
    (1 - acos(s)/pi)^p — ~2% at s=0.3, p=8 — so production LSH always
    runs L tables and ORs the candidates: recall -> 1-(1-q)^L while
    the join stays an equi-join on (table, bucket).

    Shape: ONE Arrow signature kernel (all L tables' buckets per
    vector in one pass — the expression form builds L x planes x dim
    literal Columns, ~10s of py4j plan construction at L=16 before any
    data moves), capped (table, bucket) groups, per-group numpy-matmul
    verify (grouped_pairs_exact — one Arrow kernel per bucket instead
    of a self-join + per-pair expression-tree cosine, which spends ~9s
    on 250K pairs because HOF lambdas don't fuse into codegen), then
    distinct pairs across tables. Cost scales linearly in L; fan-out
    stays bounded by cap^2 per bucket per table. Plane dots accumulate
    LEFT-TO-RIGHT in the kernel, so the signs (and buckets) are
    bit-identical to the engine fold / DuckDB list_sum — which is what
    lets sim_knn_graph_lsh's oracle replay this candidate set exactly.
    The oracle-pinned query keeps the single-table expression form
    (`sim_lsh_buckets`).

    ``multiprobe=True`` widens each table's candidate set to
    Hamming-distance<=1 buckets via masked keys (see
    :func:`multi_table_signatures`): 1+planes keys per vector per
    table, still an equi-join. Pass ``coarse_mod`` alongside it — the
    key count multiplies applyInPandas group count by the same factor,
    and the coarse batch keeps the per-group pandas overhead flat.

    Cost note (dedup placement): verification happens INSIDE each
    (table, key) group and pairs are deduped AFTER — a pair sharing G
    groups is exact-verified G times (G <= n_tables, x(1+planes) under
    multiprobe for identical-bucket pairs). That redundancy is the
    price of the single ship-per-group kernel: deduping (id1, id2)
    between signature and verify would drop the repeat FLOPs but turns
    verification into a per-pair embedding join — ship-per-CANDIDATE
    Arrow traffic, measured 2-20x slower than per-group shipping at
    these shapes. Revisit only if near-duplicate-heavy corpora make
    the repeat-verify FLOPs dominate the group shuffle."""
    from pipe_s_spark.functions.dedup import cap_group_size

    e = multi_table_signatures(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        n_tables=n_tables,
        planes=planes,
        plane_stride=plane_stride,
        multiprobe=multiprobe,
        probe_bits=probe_bits,
        packed=coarse_mod is not None,
    )
    if coarse_mod is None:
        # fine path: one Spark-level group per bucket, cap via the
        # count-window helper (reuses the bucket-key partitioning)
        e = cap_group_size(e, ["gk"], cap)
    # coarse path: the cap is enforced INSIDE the batched kernel (a
    # coarse group contains whole bucket groups), saving a full
    # count-window shuffle of the vector-carrying signature rows
    pairs = grouped_pairs_exact(
        e,
        "gk",
        id_col="id",
        vec_col="v",
        threshold=threshold,
        coarse_mod=coarse_mod,
        cap=cap if coarse_mod is not None else None,
        packed=coarse_mod is not None,
    )
    # a pair sharing several tables' buckets verifies to the SAME
    # rounded cosine in each, so dedup on the ids alone is exact
    return pairs.dropDuplicates(["id1", "id2"]).select("id1", "id2", "cos_sim")


def sq8_bounds(emb: DataFrame, vec_col: str = "embedding") -> tuple[list, list]:
    """Per-dimension global (min, max) of the corpus — the "trained"
    parameters of the int8 scalar quantizer. An O(dim) metadata collect
    (same driver-side literal pattern as the IVF centroid matrix): the
    aggregation itself is a narrow posexplode + groupBy(pos) with
    map-side combine, so the corpus never shuffles by row."""
    ex = emb.select(F.posexplode(as_double_array(vec_col)).alias("pos", "x"))
    rows = sorted(
        ex.groupBy("pos").agg(F.min("x").alias("lo"), F.max("x").alias("hi")).collect(),
        key=lambda r: r["pos"],
    )
    return [float(r["lo"]) for r in rows], [float(r["hi"]) for r in rows]


def sq8_quantize(vec: Column, lo: list, hi: list) -> Column:
    """int8 scalar quantization: q[i] = floor((x - lo[i]) * scale[i]
    + 0.5) with scale[i] = 255/(hi-lo) (0 for constant dims), mapping
    each component onto 0..255. All arithmetic is plain IEEE double →
    the oracle reproduces the codes bit-for-bit; the quantized dot
    product downstream is pure int64 math, so candidate ranking has NO
    float-comparison hazard at all. Memory: 64 bytes/vec instead of
    512 — the difference between an in-RAM and a spilled ANN index at
    corpus scale."""
    scale = [255.0 / (h - l) if h > l else 0.0 for l, h in zip(lo, hi)]
    lo_arr = F.array(*[F.lit(v) for v in lo])
    sc_arr = F.array(*[F.lit(v) for v in scale])
    return F.transform(
        vec,
        lambda x, i: F.floor(
            (x - F.element_at(lo_arr, i + 1)) * F.element_at(sc_arr, i + 1) + F.lit(0.5)
        ).cast("long"),
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int-code arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# --- unsupervised IVF training: fixed-iteration Lloyd's k-means -----------

#: Fixed-point scale for exact-integer k-means: vectors are quantized
#: to int64 micro-units so every centroid component and every
#: assignment dot product is EXACT integer arithmetic — bit-identical
#: under any partitioning and replayable by the SQL oracle (the same
#: integer-units float policy the ratio queries use). Bounds: |x| <= 1
#: -> codes <= 1e6, centroid components <= 1e6, dot <= 64 * 1e12 —
#: five orders of magnitude inside int64 even with per-cell sums over
#: 10^9-row cells (sums are the only larger intermediates: 1e6 * 1e9
#: = 1e15 < 2^63).
KMEANS_QUANT = 1_000_000


def quantize_vec(vec: Column, quant: int = KMEANS_QUANT) -> Column:
    """double array -> int64 micro-unit codes (ROUND half-away-from-
    zero, the convention Spark's round and DuckDB's ROUND share)."""
    return F.transform(vec, lambda x: F.round(x * quant).cast("long"))


def kmeans_scored_int(xq: Column, cents: dict[int, list[int]]) -> Column:
    """array<struct<d, nc>> of exact int64 dot(xq, centroid) per cell,
    nc = -cell so array_max / array_sort tie-break toward the SMALLER
    cell id — the same ordering the oracle's ORDER BY d DESC, cell ASC
    produces."""
    return F.array(
        *[
            F.struct(
                int_dot(
                    xq, F.array(*[F.lit(int(w)).cast("long") for w in cents[c]])
                ).alias("d"),
                F.lit(-c).cast("long").alias("nc"),
            )
            for c in sorted(cents)
        ]
    )


def kmeans_assign_int(xq: Column, cents: dict[int, list[int]]) -> Column:
    """Cell id = argmax_c int_dot(xq, centroid_c), ties -> smaller id;
    a NARROW literal-matrix expression (zero shuffle over the corpus)."""
    return (-F.array_max(kmeans_scored_int(xq, cents))["nc"]).cast("int")


def kmeans_probes_int(xq: Column, cents: dict[int, list[int]], nprobe: int) -> Column:
    """Top-``nprobe`` cells by descending integer dot (ties -> smaller
    cell id), as an int array — the query-side probe list."""
    ranked = F.slice(F.reverse(F.array_sort(kmeans_scored_int(xq, cents))), 1, nprobe)
    return F.transform(ranked, lambda s: (-s["nc"]).cast("int"))


def kmeans_assign_probes_table(
    df: DataFrame,
    cents: dict[int, list[int]],
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = KMEANS_QUANT,
) -> DataFrame:
    """(id, vec, cell, probe_cells) for every row — the Arrow-kernel
    form of ``kmeans_assign_int`` + ``kmeans_probes_int``: quantization
    stays the narrow JVM expression (quantize_vec — ONE rounding
    convention everywhere), then one numpy int64 matmul scores all
    cells and a stable argsort picks the top-``nprobe``.

    Bit-identical to the expression path (pinned by
    tests/test_ivf_index_stream.py's batch-vs-stream assignment check):
    the dots are EXACT int64 (|dot| <= 64 * 1e12, five orders inside
    int64, and integer addition is order-free), and stable argsort on
    -dots breaks ties toward the smaller cell id exactly like the
    expression's (d, -cell) struct max/sort. Exists because the
    expression form evaluates interpreted HOF folds per (row, cell) —
    measured ~1.2 s of a 10K-vector ingest epoch just to assign, vs
    ~0.1 s here — while remaining the right choice for ORACLE-checked
    batch queries (DuckDB replays expressions, not kernels)."""
    import numpy as np

    cells_sorted = sorted(cents)
    if nprobe > len(cells_sorted):
        # order[:, :nprobe] would silently yield fewer probe cells than
        # requested — a config typo must fail loudly, not quietly
        # reduce recall
        raise ValueError(
            f"nprobe={nprobe} exceeds the {len(cells_sorted)} trained "
            "cells — probing every cell is a brute-force scan; pass "
            f"nprobe <= {len(cells_sorted)}"
        )
    C = np.array([cents[c] for c in cells_sorted], dtype=np.int64)
    cells_arr = np.array(cells_sorted, dtype=np.int64)
    vec_t = df.schema[vec_col].dataType.simpleString()
    src = df.select(
        F.col(id_col),
        F.col(vec_col),
        quantize_vec(as_double_array(vec_col), quant).alias("xq"),
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            XQ = np.stack(pdf["xq"].to_numpy()).astype(np.int64)
            dots = XQ @ C.T  # exact: numpy integer matmul never rounds
            order = np.argsort(-dots, axis=1, kind="stable")
            pc = cells_arr[order[:, :nprobe]].astype("int32")
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "cell": pc[:, 0],
                    "probe_cells": list(pc),
                }
            )

    # r15: fan_out — kernel parallelism on low-parallelism scans; no-op
    # at cluster scale (sizing.fan_out).
    from pipe_s_spark.sizing import fan_out, kernel_parts

    return fan_out(src, by=[id_col], max_parts=kernel_parts(src.sparkSession)).mapInPandas(
        fn,
        f"{id_col} bigint, {vec_col} {vec_t}, cell int, probe_cells array<int>",
    )


def _trunc_div(s: int, n: int) -> int:
    """Truncate-toward-zero integer division — the convention Spark's
    DIV and DuckDB's // share for integers (Python's // floors, which
    disagrees on negative sums)."""
    q = abs(s) // n
    return q if s >= 0 else -q


def kmeans_train_int(
    emb: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = IVF_CELLS,
    iters: int = 2,
    dim: int = 64,
    quant: int = KMEANS_QUANT,
) -> dict[int, list[int]]:
    """Fixed-iteration Lloyd's k-means over an embedding corpus, fully
    UNSUPERVISED (no label column — the thing the label-mean stand-in
    could not claim) and exactly reproducible by an unrolled-CTE SQL
    oracle:

    - init: the deterministic hash-derived IVF cells (:func:`ivf_assign`
      — the same literal centroid matrix sim_ivf_topk pins);
    - iterate ``iters`` times: centroid = per-cell component-wise mean
      of the int64 micro-unit codes (exact integer sum, truncating
      division), then reassign by argmax exact-integer dot. Cells that
      lose every member simply drop out (both engines see the same
      shrinking cell set).

    Scale shape (pagerank's loop discipline, operators/graph.py): each
    iteration is one narrow map over the corpus (literal-matrix argmax
    fused into the scan) + one groupBy(cell, pos) with map-side combine
    whose output is O(cells x dim) rows — the ONLY driver collect, the
    same bounded literal-matrix metadata every IVF build ships. Nothing
    row-sized ever reaches the driver; a production run would persist
    the final assignment as the partition column."""
    v = as_double_array(vec_col)
    base = emb.select(
        quantize_vec(v, quant).alias("xq"), ivf_assign(v, n_cells, dim).alias("cell")
    )
    cents: dict[int, list[int]] | None = None
    for _ in range(iters):
        if cents is None:
            assigned = base
        else:
            assigned = base.select(
                "xq", kmeans_assign_int(F.col("xq"), cents).alias("cell")
            )
        rows = (
            assigned.select("cell", F.posexplode("xq").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cell: dict[int, dict[int, int]] = {}
        for r in rows:
            by_cell.setdefault(int(r["cell"]), {})[int(r["pos"])] = _trunc_div(
                int(r["s"]), int(r["n"])
            )
        cents = {c: [by_cell[c][p] for p in range(dim)] for c in sorted(by_cell)}
    assert cents is not None
    return cents


def kmeans_sql_ctes(
    iters: int = 2,
    dim: int = 64,
    quant: int = KMEANS_QUANT,
    n_cells: int = IVF_CELLS,
) -> str:
    """The unrolled-CTE DuckDB replay of :func:`kmeans_train_int` (the
    pagerank-oracle pattern): emits CTEs ``e`` (vec_id, double v),
    ``x`` (vec_id, int64 xq) and ``cd_final`` (vec_id, cell, exact
    integer dot against the final centroids) for the caller's
    probe/assign/re-rank tail. Iteration t's centroids come from
    iteration t-1's assignment; ``//`` on integers truncates toward
    zero in DuckDB, matching the trainer's _trunc_div."""
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        (
            "x AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), "
            f"t -> CAST(ROUND(t * {quant}) AS BIGINT)) AS xq FROM embeddings)"
        ),
        (
            "cd0 AS (SELECT e.vec_id, cells.cell, "
            f"list_sum(list_transform(generate_series(1, {dim}), i -> e.v[i] * cells.cv[i])) AS d "
            f"FROM e CROSS JOIN {ivf_cells_values_sql(n_cells, dim)})"
        ),
        (
            "a0 AS (SELECT vec_id, cell FROM ("
            "SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS r "
            "FROM cd0) WHERE r = 1)"
        ),
    ]
    for t in range(1, iters + 1):
        parts += [
            (
                f"s{t} AS (SELECT a{t-1}.cell, generate_subscripts(x.xq, 1) AS pos, "
                f"unnest(x.xq) AS xv FROM x JOIN a{t-1} USING (vec_id))"
            ),
            (
                f"c{t} AS (SELECT cell, pos, SUM(xv) // COUNT(*) AS c "
                f"FROM s{t} GROUP BY cell, pos)"
            ),
            (
                f"c{t}arr AS (SELECT cell, list(c ORDER BY pos) AS cv "
                f"FROM c{t} GROUP BY cell)"
            ),
            (
                f"cd{t} AS (SELECT x.vec_id, k.cell, "
                f"list_sum(list_transform(generate_series(1, {dim}), i -> x.xq[i] * k.cv[i])) AS d "
                f"FROM x CROSS JOIN c{t}arr k)"
            ),
        ]
        if t < iters:
            parts.append(
                f"a{t} AS (SELECT vec_id, cell FROM ("
                "SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS r "
                f"FROM cd{t}) WHERE r = 1)"
            )
    parts.append(f"cd_final AS (SELECT * FROM cd{iters})")
    return ",\n".join(parts)


# --- Product Quantization (PQ / IVF-ADC) -----------------------------------

#: PQ geometry: the 64-dim embedding splits into PQ_M contiguous
#: subspaces of dim/PQ_M components; each subspace gets an independent
#: PQ_K-codeword codebook. A vector's PQ code is PQ_M small integers —
#: here 16 x 5 bits = 10 packed bytes standing in for 256 bytes of
#: float32, the ~26x compression that makes billion-vector indexes
#: RAM-resident (Jegou, Douze, Schmid, "Product Quantization for
#: Nearest Neighbor Search", TPAMI 2011 — the FAISS IVFADC design).
#: Geometry follows the bits-per-dim rule (~1.25 here): a coarser
#: 4x16 book measured 0.12 recall@5 on this corpus vs 0.52 for 16x32
#: — these synthetic embeddings are near-random (the hardest case to
#: quantize); production sizes K=256 (one byte per subspace) with
#: subspaces of 4-8 dims.
PQ_M = 16
PQ_K = 32
PQ_ITERS = 2
PQ_SUBDIM = 64 // PQ_M


def pq_seed_centroid(sub: int, code: int, subdim: int) -> list[float]:
    """Deterministic unit-norm pseudo-random INIT codeword for
    subspace ``sub`` (md5-derived, the ivf_centroid convention with a
    per-subspace seed so subspaces start decorrelated)."""
    import hashlib
    import math

    raw = [
        int(hashlib.md5(f"p{sub}c{code}d{i}".encode()).hexdigest()[:4], 16) / 65536.0
        - 0.5
        for i in range(1, subdim + 1)
    ]
    n = math.sqrt(sum(x * x for x in raw))
    return [x / n for x in raw]


def pq_seeds_values_sql(m: int = PQ_M, k: int = PQ_K, dim: int = 64) -> str:
    """DuckDB VALUES table of the identical literal init-seed matrix."""
    subdim = dim // m
    rows = ", ".join(
        f"({s}, {c}, ARRAY[{', '.join(repr(w) for w in pq_seed_centroid(s, c, subdim))}]::DOUBLE[])"
        for s in range(m)
        for c in range(k)
    )
    return f"(VALUES {rows}) AS pqseed(sub, code, sv)"


def subvec(vec: Column, sub: int, subdim: int) -> Column:
    """Contiguous subspace slice (1-based F.slice; ``sub`` 0-based)."""
    return F.slice(vec, sub * subdim + 1, subdim)


def _fold_dot_np(X, W):
    """Vectorized LEFT-TO-RIGHT fold of sum_i X[:, i] * W[:, i] — the
    identical op order (and for float64 the identical IEEE result) as
    the sequential F.aggregate fold and DuckDB's list_sum, batched
    across rows x codewords. X (n, subdim) x W (k, subdim) -> (n, k).
    For int64 inputs the products/sums are exact (addition is
    associative; magnitudes bounded well inside int64 — see
    _pq_encode_np)."""
    import numpy as np

    out = np.multiply.outer(X[:, 0], W[:, 0])
    for i in range(1, X.shape[1]):
        out = out + np.multiply.outer(X[:, i], W[:, i])
    return out


def _pq_books_np(books: dict[tuple[int, int], list[int]], m: int, k: int):
    """numpy view of a codebook dict: per sub, (ascending live code
    ids, codeword matrix, per-codeword |c|^2)."""
    import numpy as np

    out = []
    for s in range(m):
        codes = sorted(c for (ss, c) in books if ss == s)
        if not codes:
            raise ValueError(
                f"PQ codebook has no codes for subspace {s} of {m} — "
                "geometry mismatch between the books and the caller's m? "
                "(derive m as max(sub)+1 from the books, as "
                "streaming.ivf_index.apply_ivf_batch does)"
            )
        M = np.array([books[(s, c)] for c in codes], dtype=np.int64)
        out.append((np.array(codes, dtype=np.int64), M, (M * M).sum(axis=1)))
    return out


def _pq_init_np(V, m: int, k: int, subdim: int):
    """Per-subspace INIT code = argmax_c fold-dot(subvec, md5 seed_c);
    np.argmax takes the FIRST max — ties toward the smaller code,
    matching the oracle's ORDER BY d DESC, code ASC. V is float64
    (n, dim); the fold order makes the doubles bit-identical to the
    JVM/DuckDB evaluation."""
    import numpy as np

    n = V.shape[0]
    codes = np.empty((n, m), dtype=np.int32)
    for s in range(m):
        seeds = np.array(
            [pq_seed_centroid(s, c, subdim) for c in range(k)], dtype=np.float64
        )
        codes[:, s] = np.argmax(_fold_dot_np(V[:, s * subdim:(s + 1) * subdim], seeds), axis=1)
    return codes


def _pq_encode_np(XQ, books_np, subdim: int):
    """Exact-int64 PQ encode: per subspace, key = |codeword|^2 -
    2*dot(x_sub, codeword) (argmin key == argmin squared L2, since
    |x_sub|^2 is constant per row); np.argmin takes the first min and
    live codes are ascending, so ties break toward the smaller code —
    ROW_NUMBER ... ORDER BY key ASC, code ASC in the oracle. Bounds:
    components <= 1e6 micro-units, subdim <= 64 -> |key| <= ~1.3e14,
    five orders inside int64. Returns (codes (n,m) int32, keys (n,m)
    int64)."""
    import numpy as np

    n = XQ.shape[0]
    m = len(books_np)
    codes = np.empty((n, m), dtype=np.int32)
    keys = np.empty((n, m), dtype=np.int64)
    for s, (live, M, csq) in enumerate(books_np):
        keymat = csq[None, :] - 2 * _fold_dot_np(XQ[:, s * subdim:(s + 1) * subdim], M)
        j = np.argmin(keymat, axis=1)
        codes[:, s] = live[j]
        keys[:, s] = keymat[np.arange(n), j]
    return codes, keys


def pq_train_int(
    emb: DataFrame,
    vec_col: str = "embedding",
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    dim: int = 64,
    quant: int = KMEANS_QUANT,
) -> dict[tuple[int, int], list[int]]:
    """Fixed-iteration Lloyd's PQ codebook training, exact-integer like
    :func:`kmeans_train_int` and replayable by :func:`pq_sql_ctes`:

    - init: per-subspace argmax-dot against the md5 seed matrix;
    - iterate: codeword = per-(sub, code) component-wise trunc-div
      mean of member int64 subvectors, reassign by exact-integer
      argmin L2. Codes that lose every member drop out of the book
      (both engines see the same shrinking code set).

    Scale shape: ALL m subspaces assign in ONE Arrow kernel pass per
    iteration (``mapInPandas`` — PQ assignment is m*k small matmuls
    per batch, exactly the SIMD kernel FAISS uses; an expression-tree
    form was measured 50x slower because 512 codeword dots per row
    defeat both py4j construction and codegen), followed by one
    posexplode + groupBy with map-side combine whose output is
    O(m * k * subdim) rows — the only driver collect. At 100 TB this
    is m independent k-means runs for the price of one corpus scan
    per iteration."""
    subdim = dim // m
    v = as_double_array(vec_col)
    base = emb.select(quantize_vec(v, quant).alias("xq"), v.alias("v"))
    schema = "xq array<bigint>, codes array<int>"

    def init_fn(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            codes = _pq_init_np(V, m, k, subdim)
            yield type(pdf)({"xq": pdf["xq"], "codes": list(codes)})

    def encode_fn(bks):
        books_np = _pq_books_np(bks, m, k)

        def fn(batches):
            import numpy as np

            for pdf in batches:
                if not len(pdf):
                    continue
                XQ = np.stack(pdf["xq"].to_numpy()).astype(np.int64)
                codes, _ = _pq_encode_np(XQ, books_np, subdim)
                yield type(pdf)({"xq": pdf["xq"], "codes": list(codes)})

        return fn

    books: dict[tuple[int, int], list[int]] | None = None
    for _ in range(iters):
        if books is None:
            assigned = base.mapInPandas(init_fn, schema)
        else:
            assigned = base.select("xq").mapInPandas(encode_fn(books), schema)
        rows = (
            assigned.select(F.posexplode("xq").alias("pos", "x"), "codes")
            .select(
                F.expr(f"pos DIV {subdim}").cast("int").alias("sub"),
                F.expr(f"element_at(codes, CAST(pos DIV {subdim} AS INT) + 1)").alias(
                    "code"
                ),
                F.expr(f"pos % {subdim}").cast("int").alias("lpos"),
                F.col("x"),
            )
            .groupBy("sub", "code", "lpos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        acc: dict[tuple[int, int], dict[int, int]] = {}
        for r in rows:
            acc.setdefault((int(r["sub"]), int(r["code"])), {})[int(r["lpos"])] = (
                _trunc_div(int(r["s"]), int(r["n"]))
            )
        books = {
            sc: [comps[p] for p in range(subdim)] for sc, comps in sorted(acc.items())
        }
    assert books is not None
    return books


def pq_encode_table(
    df: DataFrame,
    books: dict[tuple[int, int], list[int]],
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = 64,
    quant: int = KMEANS_QUANT,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: dict[str, str] | None = None,
    pack_xq: bool = False,
) -> DataFrame:
    """PQ-encode a vector table -> (id, xq, codes, keys): quantization
    stays a narrow JVM expression (quantize_vec — one rounding
    convention everywhere); assignment runs in the Arrow matmul
    kernel. This is the table a production index persists: codes is
    the m-byte compressed vector, keys the per-subspace quantization
    error (int64 micro-units^2). ``carry_cols`` ({name: ddl_type})
    pass extra input columns through the kernel unchanged (e.g. a
    coarse cell id for IVF-ADC). ``pack_xq=True`` adds ``xqb`` — the
    quantized query as little-endian int64 BYTES (dim*8, ~512 B): the
    payload grouped_adc_topk's in-kernel-LUT mode consumes, 8x
    smaller than the m*k LUT it replaces on the wire."""
    subdim = dim // m
    books_np = _pq_books_np(books, m, k)
    carry = dict(carry_cols or {})
    src = df.select(
        F.col(id_col),
        quantize_vec(as_double_array(vec_col), quant).alias("xq"),
        *[F.col(c) for c in carry],
    )

    def fn(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            XQ = np.stack(pdf["xq"].to_numpy()).astype(np.int64)
            codes, keys = _pq_encode_np(XQ, books_np, subdim)
            out = {
                id_col: pdf[id_col],
                "xq": pdf["xq"],
                "codes": list(codes),
                "keys": list(keys),
            }
            if pack_xq:
                # explicit '<i8' (no-copy on LE hosts) — consumers
                # decode little-endian (grouped_adc_topk books mode)
                out["xqb"] = [row.tobytes() for row in XQ.astype("<i8", copy=False)]
            for c in carry:
                out[c] = pdf[c]
            yield type(pdf)(out)

    carry_ddl = "".join(f", {c} {t}" for c, t in carry.items())
    xqb_ddl = ", xqb binary" if pack_xq else ""
    from pipe_s_spark.sizing import fan_out, kernel_parts  # r15: kernel parallelism; no-op at scale

    return fan_out(src, by=[id_col], max_parts=kernel_parts(src.sparkSession)).mapInPandas(
        fn,
        f"{id_col} bigint, xq array<bigint>, codes array<int>, keys array<bigint>"
        + xqb_ddl
        + carry_ddl,
    )


def ivf_adc_prepare_table(
    df: DataFrame,
    cents: dict[int, list[int]],
    books: dict[tuple[int, int], list[int]],
    nprobe: int,
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = 64,
    quant: int = KMEANS_QUANT,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """FUSED coarse-assign + probe-list + PQ-encode kernel for the
    compressed streaming index — one Arrow pass computing exactly what
    ``kmeans_assign_probes_table`` followed by
    ``pq_encode_table(pack_xq=True)`` compute in two (bit-identical by
    construction: the same JVM-side quantize_vec feeds the same int64
    argsort rule and the same _pq_encode_np; pinned by
    tests/test_pq_property.py). The two-pass form ships the raw vector
    column through the worker boundary twice and quantizes it twice —
    ~0.3 s of pure Arrow/transfer cost per 10K-vector ingest epoch that
    the index never needs, since the compressed index persists only
    ``codes`` and probes with ``xqb``. Returns
    (id, codes, xqb, cell, probe_cells)."""
    import numpy as np

    cells_sorted = sorted(cents)
    if nprobe > len(cells_sorted):
        raise ValueError(
            f"nprobe={nprobe} exceeds the {len(cells_sorted)} trained "
            "cells — probing every cell is a brute-force scan; pass "
            f"nprobe <= {len(cells_sorted)}"
        )
    C = np.array([cents[c] for c in cells_sorted], dtype=np.int64)
    cells_arr = np.array(cells_sorted, dtype=np.int64)
    subdim = dim // m
    books_np = _pq_books_np(books, m, k)
    src = df.select(
        F.col(id_col), quantize_vec(as_double_array(vec_col), quant).alias("xq")
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            XQ = np.stack(pdf["xq"].to_numpy()).astype(np.int64)
            dots = XQ @ C.T  # exact: numpy integer matmul never rounds
            order = np.argsort(-dots, axis=1, kind="stable")
            pc = cells_arr[order[:, :nprobe]].astype("int32")
            codes, _keys = _pq_encode_np(XQ, books_np, subdim)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "codes": list(codes),
                    # explicit '<i8' — grouped_adc_topk decodes LE
                    "xqb": [row.tobytes() for row in XQ.astype("<i8", copy=False)],
                    "cell": pc[:, 0],
                    "probe_cells": list(pc),
                }
            )

    from pipe_s_spark.sizing import fan_out, kernel_parts  # r15: kernel parallelism; no-op at scale

    return fan_out(src, by=[id_col], max_parts=kernel_parts(src.sparkSession)).mapInPandas(
        fn,
        f"{id_col} bigint, codes array<int>, xqb binary, cell int, "
        "probe_cells array<int>",
    )


def pq_lut_table(
    df: DataFrame,
    books: dict[tuple[int, int], list[int]],
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = 64,
    id_col: str = "vec_id",
    packed: bool = False,
) -> DataFrame:
    """Per-query ADC lookup tables from an (id, xq) table: flat
    array<long> of length m*k where slot sub*k + code holds the exact
    int64 dot(query_subvec, codeword). THE asymmetric-distance trick:
    computed ONCE per query (O(dim * k) work), after which scoring any
    candidate costs m array lookups instead of a dim-length dot
    product — at 100 TB the scan over compressed codes does m adds per
    row instead of dim multiplies. Dropped codes keep slot value 0 (no
    stored code references them).

    ``packed=True`` emits ``lut`` as little-endian int64 BYTES instead
    of array<bigint>: a LUT row is m*k (512) elements — ~4 KB — and
    Arrow's per-element list conversion on the batch x probes x LUT
    rows is the dominant Arrow cost of the streaming ADC ingest (the
    same list-column tax the packed LSH signatures avoid). Bytes are
    bit-exact int64; pair with grouped_adc_topk(packed=True)."""
    subdim = dim // m
    books_np = _pq_books_np(books, m, k)

    def fn(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            XQ = np.stack(pdf["xq"].to_numpy()).astype(np.int64)
            n = XQ.shape[0]
            lut = np.zeros((n, m * k), dtype=np.int64)
            for s, (live, M, _csq) in enumerate(books_np):
                lut[:, s * k + live] = _fold_dot_np(
                    XQ[:, s * subdim:(s + 1) * subdim], M
                )
            # explicit '<i8' (no-copy on LE hosts): consumers decode
            # little-endian, so native-order bytes would corrupt ADC
            # scores on a big-endian executor
            col = (
                [row.tobytes() for row in lut.astype("<i8", copy=False)]
                if packed
                else list(lut)
            )
            yield type(pdf)({id_col: pdf[id_col], "lut": col})

    lut_t = "binary" if packed else "array<bigint>"
    return df.select(id_col, "xq").mapInPandas(fn, f"{id_col} bigint, lut {lut_t}")


def pq_adc_score(lut: Column, codes: Column, m: int = PQ_M, k: int = PQ_K) -> Column:
    """Approximate int64 dot(query, candidate) = sum over subspaces of
    lut[sub*k + codes[sub]] — m element_at lookups, zero multiplies
    (unrolled adds: integer-associative, codegen-able)."""
    out = F.element_at(lut, F.element_at(codes, 1) + 1)
    for s in range(1, m):
        out = out + F.element_at(lut, F.lit(s * k) + F.element_at(codes, s + 1) + 1)
    return out


def pq_sql_ctes(
    iters: int = PQ_ITERS,
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = 64,
    quant: int = KMEANS_QUANT,
    include_base: bool = True,
) -> str:
    """Unrolled-CTE DuckDB replay of :func:`pq_train_int` (the
    kmeans_sql_ctes pattern). Emits ``pq_books`` (sub, code, int64
    codeword list) and ``pq_keys`` (vec_id, sub, code, key) — the
    final-iteration L2 keys from which callers derive the assignment
    (ROW_NUMBER ... ORDER BY key ASC, code ASC). With
    ``include_base=False`` the caller already defined ``e``/``x``
    (e.g. combined with kmeans_sql_ctes for IVF-ADC)."""
    subdim = dim // m
    parts: list[str] = []
    if include_base:
        parts += [
            "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
            (
                "x AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), "
                f"t -> CAST(ROUND(t * {quant}) AS BIGINT)) AS xq FROM embeddings)"
            ),
        ]
    parts += [
        (
            "pd0 AS (SELECT e.vec_id, pqseed.sub, pqseed.code, "
            f"list_sum(list_transform(generate_series(1, {subdim}), i -> e.v[pqseed.sub * {subdim} + i] * pqseed.sv[i])) AS d "
            f"FROM e CROSS JOIN {pq_seeds_values_sql(m, k, dim)})"
        ),
        (
            "pa0 AS (SELECT vec_id, sub, code FROM ("
            "SELECT vec_id, sub, code, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d DESC, code ASC) AS r "
            "FROM pd0) WHERE r = 1)"
        ),
    ]
    for t in range(1, iters + 1):
        parts += [
            (
                f"ps{t} AS (SELECT pa.sub, pa.code, u.pos - pa.sub * {subdim} AS lpos, u.xv "
                f"FROM (SELECT vec_id, generate_subscripts(xq, 1) AS pos, unnest(xq) AS xv FROM x) u "
                f"JOIN pa{t-1} pa ON pa.vec_id = u.vec_id "
                f"AND u.pos > pa.sub * {subdim} AND u.pos <= (pa.sub + 1) * {subdim})"
            ),
            (
                f"pb{t} AS (SELECT sub, code, lpos, SUM(xv) // COUNT(*) AS c "
                f"FROM ps{t} GROUP BY sub, code, lpos)"
            ),
            (
                f"pb{t}arr AS (SELECT sub, code, list(c ORDER BY lpos) AS cv "
                f"FROM pb{t} GROUP BY sub, code)"
            ),
            (
                f"pd{t} AS (SELECT x.vec_id, b.sub, b.code, "
                f"list_sum(list_transform(generate_series(1, {subdim}), i -> b.cv[i] * b.cv[i])) "
                f"- 2 * list_sum(list_transform(generate_series(1, {subdim}), i -> x.xq[b.sub * {subdim} + i] * b.cv[i])) AS key "
                f"FROM x CROSS JOIN pb{t}arr b)"
            ),
        ]
        if t < iters:
            parts.append(
                f"pa{t} AS (SELECT vec_id, sub, code FROM ("
                "SELECT vec_id, sub, code, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY key ASC, code ASC) AS r "
                f"FROM pd{t}) WHERE r = 1)"
            )
    parts += [
        f"pq_books AS (SELECT sub, code, cv FROM pb{iters}arr)",
        f"pq_keys AS (SELECT * FROM pd{iters})",
        (
            "pq_codes AS (SELECT vec_id, sub, code, key FROM ("
            "SELECT vec_id, sub, code, key, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY key ASC, code ASC) AS r "
            "FROM pq_keys) WHERE r = 1)"
        ),
    ]
    return ",\n".join(parts)

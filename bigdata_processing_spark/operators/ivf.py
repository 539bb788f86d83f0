"""IVF (inverted-file) approximate nearest-neighbor index backed by
k-means cells — the scale path for similarity search (SURVEY.md §2.12).

Replaces the fixture ``label`` stand-in (queries/similarity.knn_ivf_label)
with a real coarse quantizer:

1. **fit** — k-means over a hash-sample of the corpus (at 100TB you
   never fit the quantizer on the full corpus; a few hundred thousand
   sampled vectors bound the centroid estimate). Reuses
   operators/clustering.kmeans_fit's distributed update loop.
2. **assign** — one full pass tags every vector with its nearest cell
   (vectorized argmin pandas UDF, Arrow-batched). The indexed table is
   repartitioned by cell so each cell's postings are co-located — on a
   cluster this is the ``PARTITIONED BY (cell)`` layout that lets a probe
   read only ``n_probe / k`` of the index bytes.
3. **search** — multi-probe: each query ranks centroids (a k×d broadcast,
   never a shuffle), keeps its ``n_probe`` nearest cells, and scores only
   candidates in those cells. Queries are broadcast; the index streams.

Recall is tested against exact brute force (tests/test_ivf.py) — the
standard IVF quality gate (recall@k under multi-probe), not an equality
oracle, because k-means is iterative and not SQL-expressible.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_processing_spark.functions import vectors as V
from bigdata_processing_spark.operators.clustering import kmeans_centroids, _assign_udf
from bigdata_processing_spark.sources.writers import literal_df


# fraction of post-fit vectors that triggers a quantizer rebuild in
# append_to_ivf_index; shared with the oracle-checked relational twin
# (queries/similarity.ivf_append_assignment)
REFIT_THRESHOLD = 0.3


def ivf_cell_count(
    n_vectors: int,
    coeff: float = 4.0,
    min_cells: int = 8,
    max_cells: int = 1 << 18,
) -> int:
    """k_cells sizing policy: ``coeff · √n``, clamped.

    √n balances the two per-query costs — ranking k centroids vs
    scanning ``n_probe · n/k`` postings — making each O(√n). The default
    coefficient follows published IVF practice (FAISS guidance trains
    4√n–16√n centroids when sample budget allows; each centroid wants
    ≥ ~39 training points, hence the clamp floor for tiny corpora). At
    100TB scale this is the knob that keeps per-cell postings lists
    executor-sized: 1e9 vectors → ~126k cells of ~8k vectors each."""
    if n_vectors < min_cells:
        return max(1, n_vectors)  # toy corpus: a cell per point
    k = max(min_cells, int(coeff * math.sqrt(n_vectors)))
    # trainability clamp LAST so it also bounds the min_cells floor —
    # a 50-vector corpus must not get 8 under-trained centroids
    return min(k, max(1, n_vectors // 39), max_cells)


def allpairs_cell_count(n_vectors: int, target_cell: int = 128) -> int:
    """Cell count for ALL-PAIRS-within-cell workloads (near-dup).

    :func:`ivf_cell_count`'s 4·√n optimizes per-QUERY probe cost; an
    all-pairs candidate generator instead needs expected pair count to
    stay linear in n, which requires bounded cell SIZE: with C = n/s
    cells the within-cell pair count is ~C·(s choose 2) ≈ n·s/2. So take
    the MAX of the two curves — 4·√n dominates below s·(4s)² vectors
    (more cells → even fewer pairs there), n/target_cell beyond, keeping
    pairs ≤ ~n·target_cell/2 at any scale. This replaces round 2's
    hard 64-cell cap that went quadratic past ~8k vectors (VERDICT r02).
    Must stay arithmetically reproducible in ANSI SQL (oracle twin)."""
    return max(ivf_cell_count(n_vectors), n_vectors // target_cell)


def seed_centroids(
    emb: DataFrame, k: int, vec_col: str = "embedding", id_col: str = "vec_id"
) -> list[list[float]]:
    """Deterministic seed centroids: the ``k`` lowest-id vectors.

    No RNG and no iteration, so a SQL oracle can reproduce the exact same
    centroid set (``ORDER BY vec_id LIMIT k``). A corpus-sample quantizer
    like this is the SQL-expressible stand-in for the k-means-refined one
    (``kmeans_centroids``) wherever a bit-exact cross-engine check is
    needed."""
    return [
        list(r.c)
        for r in emb.orderBy(id_col)
        .limit(k)
        .select(F.col(vec_col).cast("array<double>").alias("c"))
        .collect()
    ]


# Row bound for the driver-side exact Lloyd fit — the same constant that
# routes the celled family onto the exact path in the first place
# (queries/dedup.EMB_EXACT_ASSIGN_MAX); above it exact=False (Arrow
# matmul) is the caller contract, so the bounded collect never grows
# past ~50k · 64 doubles ≈ 26 MB.
DRIVER_FIT_MAX_ROWS = 50_000

# Assignment-matrix chunk: rows per numpy block so the (rows × cells)
# score matrix stays a few tens of MB at the 50k×~900-cell upper bound.
_DRIVER_FIT_CHUNK = 4096


def _round6_half_up(x: float) -> float:
    """Spark's ``round(col, 6)`` on DOUBLE: exact decimal expansion of
    the double, HALF_UP at 6 digits, correctly-rounded back — BigDecimal
    semantics, NOT Python round()'s half-even."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(x).quantize(Decimal("0.000001"),
                                     rounding=ROUND_HALF_UP))


def _fold_assign_np(Vm, C, cc):
    """Argmin cell per row of ``Vm`` from :func:`V.fold_dot` scores — the
    fold's exact doubles, so the argmins (first occurrence = lowest
    cell) are those of the ``aggregate(zip_with)`` assignment."""
    import numpy as np

    out = np.empty(len(Vm), dtype=np.int64)
    for lo in range(0, len(Vm), _DRIVER_FIT_CHUNK):
        blk = Vm[lo:lo + _DRIVER_FIT_CHUNK]
        out[lo:lo + _DRIVER_FIT_CHUNK] = np.argmin(
            cc[None, :] - 2.0 * V.fold_dot(blk[:, None, :], C[None, :, :]),
            axis=1,
        )
    return out


def _exact_fit_on_driver(
    emb: DataFrame, k: int, n_iter: int, vec_col: str, id_col: str,
) -> list[list[float]] | None:
    """Driver-side replay of the exact (fold-contract) Lloyd fit, or
    ``None`` when the corpus exceeds ``DRIVER_FIT_MAX_ROWS`` / contains
    vectors the replay cannot mirror bit-for-bit (null, non-finite,
    ragged) — callers then run the distributed loop unchanged."""
    import numpy as np

    rows = (
        emb.select(F.col(id_col).alias("i"),
                   F.col(vec_col).cast("array<double>").alias("c"))
        .limit(DRIVER_FIT_MAX_ROWS + 1)
        .collect()
    )
    if len(rows) > DRIVER_FIT_MAX_ROWS:
        return None
    if not rows:
        return []
    if any(r.i is None or r.c is None for r in rows):
        return None
    rows.sort(key=lambda r: r.i)
    dim = len(rows[0].c)
    if any(len(r.c) != dim for r in rows):
        return None
    Vm = np.array([r.c for r in rows], dtype=np.float64)
    if not np.all(np.isfinite(Vm)):
        return None
    # seed_centroids semantics: the k lowest-id vectors, in id order
    cents = Vm[:k].copy()
    cc = V.fold_dot(cents, cents)
    for _ in range(n_iter):
        cells = _fold_assign_np(Vm, cents, cc)
        for cell in range(len(cents)):
            members = Vm[cells == cell]
            if len(members):
                m = members.sum(axis=0) / len(members)
                cents[cell] = [_round6_half_up(x) for x in m]
        cc = V.fold_dot(cents, cents)
    return [list(map(float, c)) for c in cents]


def trained_centroids(
    emb: DataFrame,
    k: int,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact: bool = True,
) -> list[list[float]]:
    """Deterministic, SQL-reproducible Lloyd refinement of
    :func:`seed_centroids`: ``n_iter`` rounds of (bit-exact argmin
    assignment → per-(cell, pos) mean rounded to 6 decimals), empty
    cells keeping their previous centroid.

    This is the TRAINED quantizer for surfaces that need a DuckDB twin
    (queries/dedup._SQL_EMB_ASSIGN unrolls the same fixed iterations as
    chained CTEs): no RNG, no convergence test — the iteration count is
    part of the contract. Cross-engine equality argument: assignment
    uses :func:`seeded_assign_cells` (ordered-fold dots, (s, cell)
    struct-min — bit-equal to the oracle's correlated ORDER BY), so both
    engines compute means over IDENTICAL member sets; the float sums
    behind each mean may differ in ulps across summation orders, but
    ``round(·, 6)`` collapses them to the same double except when a mean
    sits within ~1e-16 of a decimal rounding boundary (the same accepted
    risk class as every round-6 oracle in this repo). The refined
    centroids are therefore equal as VALUES, and every downstream argmin
    stays bit-identical.

    Cost: per iteration, one broadcast-join assignment pass + one
    (cell, pos)-keyed aggregation collected as k rows to the driver —
    the same k-row collect discipline as operators/clustering. At 100 TB
    fit on a hash-sample (as build_ivf_index does); k·d doubles stay
    driver-sized at any corpus scale.

    ``exact=False`` swaps the per-iteration assignment for the
    Arrow-batched numpy matmul argmin (operators/clustering._assign_udf)
    — same centroid geometry, ~100× less per-pair cost, but pairwise
    SIMD sums can flip near-tie argmins, so it is NOT bit-reproducible
    in SQL. Callers use it ONLY above the scale where their DuckDB twin
    stops being exercised (queries/dedup._emb_assigned's regime bound;
    the r12 100× probe measured 335 s of interpreted fold in the exact
    quantizer — the entire celled family's dominant cost).

    Round 13: the exact fit runs ON THE DRIVER when the corpus fits the
    regime bound (``DRIVER_FIT_MAX_ROWS`` — the same 50k constant that
    gates the celled family onto this path at all). The distributed
    exact loop paid ~8 Spark stages PER ITERATION (scan → repartition →
    broadcast-build → fold assign → posexplode → two-level agg →
    collect) to fit 2k fixture vectors — pure job-count overhead at
    every oracle/bench scale (guide §1.2: the algorithm before the
    config; here the "distributed algorithm" for ≤50k×64 doubles is
    ONE bounded collect). The numpy fit REPLAYS the fold's arithmetic
    bit-for-bit: per-dim sequential accumulation vectorized over rows
    (each step one IEEE multiply + one IEEE add, identical order →
    identical doubles — pinned in tests/test_ivf.py), argmin
    first-occurrence = the (s, cell) struct-min tie-break, per-(cell,
    pos) means rounded HALF_UP at 6 decimals via exact decimal
    quantization (BigDecimal semantics). The collect is bounded by the
    same constant that chose this path (≤ 50k · 64 doubles ≈ 26 MB);
    anything bigger takes exact=False. Non-finite / null / ragged
    vectors fall back to the distributed loop (bit-contract unchanged;
    the fold's null/NaN ordering is not replayed in numpy)."""
    if exact:
        fitted = _exact_fit_on_driver(emb, k, n_iter, vec_col, id_col)
        if fitted is not None:
            return fitted
    cents = seed_centroids(emb, k, vec_col=vec_col, id_col=id_col)
    if not cents:
        return cents
    # spread the per-iteration n x k argmin fold across every core:
    # the scoring is CPU-bound interpreted arithmetic and the source
    # scan's size-based split under-parallelizes the small-byte frame
    base = emb.select(
        id_col, F.col(vec_col).cast("array<double>").alias("__tc_e")
    ).repartition(2 * emb.sparkSession.sparkContext.defaultParallelism)
    for _ in range(n_iter):
        if exact:
            assigned = seeded_assign_cells(
                base, cents, id_col=id_col, e_col="__tc_e", carry=("__tc_e",)
            )
        else:
            assigned = base.withColumn(
                "cell", _assign_udf(cents)(F.col("__tc_e"))
            )
        rows = (
            assigned.select("cell", F.posexplode("__tc_e").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg("val"), 6).alias("m"))
            .groupBy("cell")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
            )
            .select("cell", F.expr("transform(pm, x -> x.m)").alias("c"))
            .collect()
        )
        by_cell = {r.cell: list(r.c) for r in rows}
        cents = [by_cell.get(i, c) for i, c in enumerate(cents)]
    return cents


def _scores_sql(cents: list[list[float]], e_col: str) -> str:
    """SQL text for the per-centroid score array: element ``i`` is a
    struct ``(s, cell)`` where ``s = c_i·c_i − 2·e·c_i`` (squared distance
    minus the per-row constant ``e·e`` — same ordering) and ``cell = i``.

    Bit-exactness contract: the ``aggregate(zip_with(...))`` fold adds
    doubles in array order, bit-equal to DuckDB ``list_dot_product``; the
    self-dot is a sequential Python fold (same IEEE ops), embedded as a
    shortest-repr double literal (correctly-rounded parse recovers the
    identical bits). min / array_sort over the struct array compares
    (s, cell) field-wise, matching an oracle's ``ORDER BY s, cell``. So
    both engines rank cells identically.

    Built as ONE SQL string parsed once instead of per-element Column
    calls: constructing the same tree via ``F.lit``/``F.struct`` costs
    O(cells × dim) driver round-trips (~3.7s at 51×64, growing with the
    4·√n cell policy), vs ~1s to parse the equivalent string. Past a few
    hundred cells no expression form is right — that regime belongs to
    the Arrow-batched ``_assign_udf`` (build_ivf_index), which trades
    bit-exact oracle parity for O(1) plan size."""

    def dlit(x: float) -> str:
        return f"CAST('{float(x)!r}' AS DOUBLE)"

    def self_dot(v: list[float]) -> float:
        acc = 0.0
        for x in v:
            acc += x * x
        return acc

    # e_col may be a plain column name (backtick-quoted) or an arbitrary
    # SQL expression like "slice(e, 9, 8)" (used by the PQ subspace
    # encoders)
    e_ref = f"`{e_col}`" if e_col.isidentifier() else e_col
    parts = []
    for i, c in enumerate(cents):
        arr = "array(" + ",".join(dlit(x) for x in c) + ")"
        s = (
            f"{dlit(self_dot(c))} - CAST(2.0 AS DOUBLE) * "
            f"aggregate(zip_with({e_ref}, {arr}, (x, y) -> x * y), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        parts.append(f"named_struct('s', {s}, 'cell', {i})")
    return "array(" + ",".join(parts) + ")"


def seeded_scores(cents: list[list[float]], e_col: str = "e"):
    """Per-centroid distance scores as one array Column — see
    :func:`_scores_sql` for the bit-exactness contract."""
    return F.expr(_scores_sql(cents, e_col))


def seeded_assign_best(cents: list[list[float]], e_col: str = "e"):
    """Argmin assignment (nearest seed centroid) as a pure Column
    expression — ``array_min`` over :func:`_scores_sql`, ties broken
    by lowest cell; matches ``ORDER BY s, cell LIMIT 1`` in an oracle."""
    return F.expr(f"array_min({_scores_sql(cents, e_col)})")


def seeded_probe_cells(cents: list[list[float]], n_probe: int, e_col: str = "e"):
    """The ``n_probe`` nearest cells as an int array Column (closest
    first) — the multi-probe set for seeded IVF search. Same bit-exact
    ranking as :func:`_scores_sql`; an oracle reproduces it with
    ``row_number() OVER (... ORDER BY s, cell) <= n_probe``."""
    return F.expr(
        f"transform(slice(array_sort({_scores_sql(cents, e_col)}), 1, {n_probe}),"
        f" st -> st.cell)"
    )


def seeded_assign_cells(
    emb: DataFrame, cents: list[list[float]], id_col: str = "vec_id",
    e_col: str = "e", carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *carry, cell) assignment against seed centroids via a
    per-row argmin fold over a ONE-ROW broadcast of all centroids —
    bit-identical to :func:`seeded_assign_best` with an O(1)-size plan
    and an O(n)-row pipeline.

    The literal-SQL form embeds cells×dim double literals: at 51 cells ×
    64 dims that is a 135 KB expression costing ~1.2 s to parse and a
    codegen blow-up to execute per invocation. Here the centroids are
    DATA: a k-row :func:`literal_df` (carrying the presummed c·c) is
    collapsed to ONE row holding ``array<struct<cell, cent, cc>>``,
    broadcast-crossed onto ``emb``, and each row computes its own
    ``array_min(transform(cells, c -> (s, cell)))`` — the same
    field-wise (s, cell) struct ordering as the literal score array.

    Until round 10 this was a k-row crossJoin + ``min(struct(s, cell))``
    ``groupBy(id)``. A struct-typed aggregation buffer is not
    hash-aggregable, so Catalyst planned SortAggregate: the n×k exploded
    frame (rows carrying the full embedding) was SORTED before the
    partial agg — 2.6 GB of spill and all of the suite's spill at the
    sf1 sweep (50k docs × 894 cells = 44.7M fat rows in
    hashed_tf_knn_celled alone). The per-row fold does the identical
    IEEE arithmetic on n rows instead of n×k, with no aggregation, no
    sort, and ``carry`` columns riding the row for free.

    Bit-exactness contract (asserted in tests/test_ivf.py): the per-pair
    score uses the identical ``aggregate(zip_with(e, cent))`` ordered
    fold, c·c is the same sequential Python fold stored exactly as a
    double, and ``array_min`` over ``struct<s, cell>`` matches an
    oracle's ``ORDER BY s, cell LIMIT 1``.

    Assumes ``emb`` is unique per ``id_col`` (every caller indexes by a
    primary key); duplicate ids pass through row-per-row rather than
    collapsing, matching the one-assignment-per-vector contract."""

    def self_dot(v: list[float]) -> float:
        acc = 0.0
        for x in v:
            acc += x * x
        return acc

    spark = emb.sparkSession
    carried = [c for c in carry if c != id_col]
    in_cols = [id_col, e_col] + [c for c in carried if c != e_col]
    if not cents:
        return (
            emb.select(*in_cols)
            .select(id_col, *carried,
                    F.lit(None).cast("int").alias("cell"))
            .filter(F.lit(False))
        )
    cdf = literal_df(
        spark, [(i, list(c), self_dot(c)) for i, c in enumerate(cents)],
        "cell int, cent array<double>, cc double",
    )
    cells = cdf.agg(
        F.collect_list(F.struct("cell", "cent", "cc")).alias("__cells")
    )

    def scored(c):
        s = c.getField("cc") - 2.0 * F.aggregate(
            F.zip_with(F.col(e_col), c.getField("cent"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.struct(s.alias("s"), c.getField("cell").alias("cell"))

    best = F.array_min(F.transform(F.col("__cells"), scored))
    return (
        emb.select(*in_cols)
        .crossJoin(F.broadcast(cells))
        .select(id_col, *carried, best.getField("cell").alias("cell"))
    )


def seeded_assign_cells_intexact(
    emb: DataFrame, cents: list[list[float]], id_col: str = "vec_id",
    e_col: str = "e", carry: tuple[str, ...] = (),
) -> DataFrame:
    """numpy-matmul twin of :func:`seeded_assign_cells` for WHOLE-VALUED
    vector families — hashed-TF count vectors and their seed centroids.

    Why a separate path exists at all: the fold form's per-row
    ``array_min(transform(cells, ...))`` is a higher-order function,
    which Catalyst interprets (no whole-stage codegen), and its cost is
    n·cells·dim interpreted ops — measured 15 s at the sf1 sweep for
    hashed_tf_knn_celled alone (500k docs × ~2.8k cells × 16 dims).
    A float-vector family can't leave the ordered fold without risking
    the cross-engine argmin contract (summation order moves ulps, ulps
    flip near-tie argmins). This family CAN: every element is a whole
    number (token counts / seed-doc counts), so every product and every
    partial sum is an integer far below 2^53 held exactly in float64 —
    the arithmetic has NO rounding in any order, making BLAS-order
    matmul scores bit-identical to the sequential fold's. numpy argmin
    returns the FIRST index of the minimum, matching the struct-min
    ``(s asc, cell asc)`` tie-break. Equality with the fold form on the
    real fixture is pinned in tests/test_ivf.py.

    Caller contract: use ONLY when both sides are whole-valued (the
    docstring precondition is the correctness proof). Enforced at
    runtime since round 11: non-whole centroids raise at plan time and
    every Arrow batch full-checks its vectors (the check is one O(b·d)
    vectorized compare next to an O(b·d·k) matmul — noise), so a future
    float-family caller fails loudly instead of shipping
    plausible-but-unpinned argmins. Float embeddings keep
    :func:`seeded_assign_cells`.

    Null vectors (e.g. hashed_tf of a null text) get a NULL cell — the
    honest answer for an unfeaturizable row. This intentionally diverges
    from the fold form, whose null score sorts first and silently lands
    every null vector in cell 0; callers that must not carry nulls
    filter them before assignment (streaming/hashed_tf._featurize)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not cents:
        return seeded_assign_cells(
            emb, cents, id_col=id_col, e_col=e_col, carry=carry
        )
    C = np.asarray(cents, dtype=np.float64)          # k × d
    if not np.all(np.isfinite(C)) or np.any(C != np.floor(C)):
        raise ValueError(
            "seeded_assign_cells_intexact requires whole-valued centroids "
            "(the bit-exactness proof needs integer-exact float64 "
            "arithmetic); use seeded_assign_cells for float families"
        )
    cc = np.einsum("kd,kd->k", C, C)                 # exact: whole values

    def _assign_batch(v):
        if len(v) == 0:  # defensive: empty Arrow batch
            return pd.Series([], dtype="Int32")
        arr = v.to_numpy()
        nulls = np.fromiter((x is None for x in arr), dtype=bool,
                            count=len(arr))
        out = pd.array([pd.NA] * len(arr), dtype="Int32")
        if nulls.all():
            return pd.Series(out)
        V = np.stack(arr[~nulls])                    # b × d
        if not np.all(np.isfinite(V)) or np.any(V != np.floor(V)):
            raise ValueError(
                "seeded_assign_cells_intexact: non-whole-valued vector in "
                "batch — the integer-exactness precondition does not hold; "
                "use seeded_assign_cells for float families"
            )
        scores = cc[None, :] - 2.0 * (V @ C.T)       # exact whole doubles
        out[~nulls] = np.argmin(scores, axis=1).astype("int32")
        return pd.Series(out)

    # defined via the explicit form: the annotation-inference path can't
    # resolve locally-imported 'pd.Series' hints under deferred annotations
    _assign = pandas_udf(_assign_batch, "int")

    carried = [c for c in carry if c != id_col]
    in_cols = [id_col, e_col] + [c for c in carried if c != e_col]
    return emb.select(*in_cols).select(
        id_col, *carried, _assign(F.col(e_col)).alias("cell")
    )


# auto fit policy: Lloyd trains on at most this many vectors. Centroid
# estimates converge with the SAMPLE size, not the corpus size (k <= a
# few hundred cells wants ~1e3 samples/cell), so past the target the
# full-corpus fit buys nothing but wall time — the r11 sf100 probe
# measured 208.7 s of full-corpus Lloyd at 200k x 64d where the sampled
# fit reaches the same recall gate. At sf0.1 (20k vectors) the target
# leaves the fit set untouched, so small-scale plans/oracles are
# unchanged.
FIT_SAMPLE_TARGET = 25_000


def build_ivf_index(
    emb: DataFrame,
    vec_col: str = "embedding",
    k_cells: int = 16,
    n_iter: int = 3,
    fit_fraction: float | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Fit the coarse quantizer and assign every vector to a cell.

    Returns ``(indexed, centroids)`` where ``indexed`` has columns
    ``(vec_id, e array<double>, nrm double, cell int)`` repartitioned by
    cell, and ``centroids`` is the k×d list used for probing.

    ``fit_fraction`` < 1 fits k-means on a deterministic hash-sample —
    the 100TB configuration (sample ~1e5-1e6 vectors; assignment still
    covers everything). The default (None) keys the fraction to corpus
    size: fit on at most ``FIT_SAMPLE_TARGET`` vectors (round 12,
    VERDICT r11 #5 — the audit twin now adopts the same sampled-fit
    policy as the production path instead of training Lloyd on the
    full corpus).
    """
    if fit_fraction is None:
        n = emb.count()
        fit_fraction = min(1.0, FIT_SAMPLE_TARGET / max(n, 1))
    base = emb.select(
        "vec_id",
        F.col(vec_col).cast("array<double>").alias("e"),
        V.norm(F.col(vec_col)).alias("nrm"),
    )
    fit_src = emb
    if fit_fraction < 1.0:
        # deterministic hash-sample: stable across runs/retries, no RNG
        bucket = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(1_000_000))
        fit_src = emb.filter(bucket < int(fit_fraction * 1_000_000))
    # the quantizer is just the centroids — skip per-iteration inertia
    # jobs and any fit-set assignment materialization (the full-corpus
    # assignment below covers everything)
    centroids, _ = kmeans_centroids(
        fit_src, vec_col=vec_col, k=k_cells, n_iter=n_iter, compute_inertia=False
    )

    indexed = (
        base.withColumn("cell", _assign_udf(centroids)(F.col("e")))
        .repartition("cell")
    )
    return indexed, centroids


def _cell_probes(spark, queries: DataFrame, centroids: list[list[float]],
                 n_probe: int) -> DataFrame:
    """(qid, qe, qn, cell) — each query paired with its n_probe nearest
    cells. Centroid table is k rows: cross-joined broadcast, ranked with a
    per-qid window. All JVM-side fold math."""
    cdf = literal_df(
        spark, [(i, list(c)) for i, c in enumerate(centroids)],
        "cell int, cent array<double>"
    )
    d2 = F.aggregate(
        F.zip_with("qe", "cent", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("qid").orderBy(F.col("cell_d2").asc(), F.col("cell").asc())
    return (
        queries.crossJoin(F.broadcast(cdf))
        .select("qid", "qe", "qn", "cell", d2.alias("cell_d2"))
        .withColumn("cell_rank", F.row_number().over(w))
        .filter(F.col("cell_rank") <= n_probe)
        .select("qid", "qe", "qn", "cell")
    )


def ivf_search_matmul(
    indexed: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    top_k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """BLAS-scored IVF search — the float-embedding production scorer.

    Same contract as :func:`ivf_search` (queries (qid, qe, qn) →
    (qid, cid, cos_sim, rn)), but each probed cell is scored as ONE
    numpy matmul over cogrouped Arrow batches
    (``C @ Q.T`` per cell, queries chunked to bound the score block)
    and only the cell-local top-k per query ever leaves Python — the
    global window then ranks ``n_probe·k`` rows per query. Cell-local
    top-k keeps ALL boundary ties (kth-value threshold mask, then an
    exact (-score, cid) lexsort), so the cross-cell merge is exact for
    the scores this path computes.

    NOT bit-reproducible against the interpreted ordered fold or a SQL
    twin: BLAS pairwise/SIMD summation can flip near-tie argmins by
    ulps. Oracle-parity surfaces keep :func:`ivf_search`; this is the
    recall-gated path (tests/test_ivf.py pins fixture-scale top-k
    equality with the exact scorer and the brute-force recall gate) —
    the r12 100× probe measured the fold at 243 s for 100M pairs where
    this scorer is bound by one corpus pass of Arrow transfer. At
    100 TB the per-group unit is one cell's postings (√n-bounded by the
    ivf_cell_count policy) × a query-block, never the corpus."""
    spark = indexed.sparkSession
    probes = _cell_probes(spark, queries, centroids, n_probe).select(
        "cell", "qid", "qe", "qn"
    )
    cand = indexed.select("cell", "vec_id", "e", "nrm")

    def score(key, cpdf, qpdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({
            "qid": pd.Series(dtype="int64"),
            "cid": pd.Series(dtype="int64"),
            "cos_sim": pd.Series(dtype="float64"),
        })
        if len(cpdf) == 0 or len(qpdf) == 0:
            return empty
        C = np.vstack(cpdf["e"].to_numpy())          # nc × d
        cn = cpdf["nrm"].to_numpy(dtype="float64")
        cids = cpdf["vec_id"].to_numpy(dtype="int64")
        pos = {int(v): i for i, v in enumerate(cids)}
        out = []
        for lo in range(0, len(qpdf), 256):          # bound the score block
            qb = qpdf.iloc[lo:lo + 256]
            Q = np.vstack(qb["qe"].to_numpy())       # nq × d
            S = (C @ Q.T) / cn[:, None] / qb["qn"].to_numpy()[None, :]
            for j, qid in enumerate(qb["qid"].to_numpy(dtype="int64")):
                s = S[:, j]
                self_i = pos.get(int(qid))
                if self_i is not None:
                    s = s.copy()
                    s[self_i] = -np.inf
                if len(s) > top_k:
                    kth = np.partition(s, len(s) - top_k)[len(s) - top_k]
                    idx = np.nonzero(s >= kth)[0]    # keeps boundary ties
                else:
                    idx = np.arange(len(s))
                order = np.lexsort((cids[idx], -s[idx]))[:top_k]
                sel = idx[order]
                keep = s[sel] > -np.inf
                sel = sel[keep]
                out.append(pd.DataFrame({
                    "qid": np.full(len(sel), qid, dtype="int64"),
                    "cid": cids[sel],
                    "cos_sim": s[sel],
                }))
        return pd.concat(out, ignore_index=True) if out else empty

    local = cand.groupBy("cell").cogroup(probes.groupBy("cell")).applyInPandas(
        score, "qid long, cid long, cos_sim double"
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("cid").asc()
    )
    return (
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .orderBy("qid", "rn")
    )


def build_ivfsq8_index(
    emb: DataFrame,
    vec_col: str = "embedding",
    k_cells: int = 16,
    n_iter: int = 3,
    fit_fraction: float | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF-SQ8: cell-pruned index whose postings store int8-quantized
    vectors (operators/quantization) instead of float64 — the classic
    FAISS IVF+SQ composition, here as pure DataFrame ops. 4× less index
    memory/bandwidth on top of the n_probe/k scan reduction; the true
    norm rides along so cosine denominators stay exact.

    Postings: (vec_id, cell, qvec array<int>, scale double, nrm double).
    """
    from bigdata_processing_spark.operators.quantization import quantize

    indexed, centroids = build_ivf_index(
        emb, vec_col=vec_col, k_cells=k_cells, n_iter=n_iter,
        fit_fraction=fit_fraction,
    )
    sq8 = (
        quantize(indexed, vec_col="e")
        .select("vec_id", "cell", "qvec", "scale", "nrm")
        .repartition("cell")
    )
    return sq8, centroids


def ivfsq8_search(
    sq8: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    top_k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Asymmetric search (ADC): the float query scores against quantized
    candidates — ``dot(q, dequant(c)) = (Σ q_i·qc_i)·scale`` — inside the
    probed cells only. Queries need (qid, qe array<double>, qn double).
    Output shape matches ivf_search for recall measurement."""
    spark = sq8.sparkSession
    probes = _cell_probes(spark, queries, centroids, n_probe)
    joined = sq8.join(
        F.broadcast(probes),
        (sq8["cell"] == probes["cell"]) & (sq8["vec_id"] != probes["qid"]),
    )
    adc_dot = (
        F.aggregate(
            F.zip_with("qe", "qvec", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        * F.col("scale")
    )
    cos = adc_dot / (F.col("qn") * F.col("nrm"))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid").asc())
    return (
        joined.select("qid", F.col("vec_id").alias("cid"), cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .orderBy("qid", "rn")
    )


def write_ivf_index(indexed: DataFrame, centroids: list[list[float]],
                    path: str) -> None:
    """Persist the index ``PARTITIONED BY (cell)`` for cross-job reuse.

    Layout is the on-disk IVF contract: one directory per cell, so a
    probe of ``n_probe`` cells reads ``n_probe/k`` of the index bytes —
    Spark's partition pruning turns the cell predicate into directory
    pruning (asserted on the scan plan in tests/test_ivf.py). Centroids
    ride along as a tiny parquet (k rows) next to the postings."""
    indexed.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/postings")
    spark = indexed.sparkSession
    literal_df(
        spark, [(i, c) for i, c in enumerate(centroids)],
        "cell int, cent array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    # drift bookkeeping for append_to_ivf_index: how many vectors the
    # current quantizer was (re)fit against
    n_fit = indexed.count()
    literal_df(spark, [(n_fit,)], "n_fit bigint").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")


def append_to_ivf_index(path: str, new_emb: DataFrame,
                        vec_col: str = "embedding",
                        refit_threshold: float = REFIT_THRESHOLD,
                        n_iter: int = 3) -> tuple[int, bool]:
    """Incrementally maintain a disk-resident IVF index: assign the new
    vectors to the EXISTING centroids and append their postings (one
    job, touches only the assigned cells' directories). When the
    fraction of vectors added since the last (re)fit exceeds
    ``refit_threshold``, the quantizer has drifted from the data it
    summarizes — rebuild it over the full corpus (the k-means refit is
    the expensive, rare path; appends are the cheap, common one).

    Returns ``(n_appended, refit_performed)``.

    At 100 TB this is the ingest contract for a living ANN index: daily
    appends assign against frozen centroids (embarrassingly parallel,
    no shuffle beyond the partitioned write), and the refit runs as an
    offline job at a cadence set by ``refit_threshold``. The rebuild
    overwrite is not crash-atomic on its own — production wraps it in
    the swap discipline of operators/compaction.py (write aside,
    rename in)."""
    spark = new_emb.sparkSession
    _, centroids = read_ivf_index(spark, path)
    base = new_emb.select(
        "vec_id",
        F.col(vec_col).cast("array<double>").alias("e"),
        V.norm(F.col(vec_col)).alias("nrm"),
    )
    assigned = base.withColumn("cell", _assign_udf(centroids)(F.col("e")))
    n_new = assigned.count()
    assigned.write.mode("append").partitionBy("cell").parquet(f"{path}/postings")

    n_fit = spark.read.parquet(f"{path}/meta").collect()[0].n_fit
    total = spark.read.parquet(f"{path}/postings").count()
    if n_fit > 0 and (total - n_fit) / total > refit_threshold:
        import os
        import shutil

        full = spark.read.parquet(f"{path}/postings").select(
            "vec_id", F.col("e").alias(vec_col)
        )
        indexed, cents = build_ivf_index(
            full, vec_col=vec_col, k_cells=max(len(centroids), 2), n_iter=n_iter
        )
        # rebuild ASIDE then swap: writing over {path}/postings while the
        # plan still lazily reads it would fail mid-job (and a crash
        # would orphan the index) — same discipline as compaction.py
        staged = path.rstrip("/") + ".rebuild"
        old = path.rstrip("/") + ".old"
        write_ivf_index(indexed, cents, staged)
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
        os.rename(staged, path)
        shutil.rmtree(old)
        return n_new, True
    return n_new, False


def read_ivf_index(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    indexed = spark.read.parquet(f"{path}/postings")
    rows = spark.read.parquet(f"{path}/centroids").collect()
    by_id = {r.cell: list(r.cent) for r in rows}
    return indexed, [by_id[i] for i in sorted(by_id)]


def ivf_search_on_disk(indexed: DataFrame, centroids: list[list[float]],
                       queries: DataFrame, top_k: int = 5,
                       n_probe: int = 2) -> DataFrame:
    """Search against a disk-resident index, pruning unprobed cells AT THE
    SCAN: the union of all queries' probed cells becomes an ``isin``
    predicate on the partition column, so Spark lists only those cell
    directories. Per-query cell restriction still applies in the join.

    Two-phase by design: the probed-cell set must be a literal predicate
    (not a join) for partition pruning to fire without DPP, and it is
    tiny (≤ queries × n_probe cell ids) — a driver-side collect of ints,
    not data."""
    spark = indexed.sparkSession
    probes = _cell_probes(spark, queries, centroids, n_probe)
    cells = [r.cell for r in probes.select("cell").distinct().collect()]
    pruned = indexed.filter(F.col("cell").isin(cells))
    joined = pruned.join(
        F.broadcast(probes),
        (pruned["cell"] == probes["cell"]) & (pruned["vec_id"] != probes["qid"]),
    )
    cos = V.dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid").asc())
    return (
        joined.select("qid", F.col("vec_id").alias("cid"), cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .orderBy("qid", "rn")
    )


def ivf_search(
    indexed: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    top_k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Cosine top-k restricted to each query's ``n_probe`` nearest cells.

    ``queries`` must have columns (qid, qe array<double>, qn double).
    Output: (qid, cid, cos_sim, rn) — same shape as knn_bruteforce, so
    recall@k is directly measurable.
    """
    spark = indexed.sparkSession
    probes = _cell_probes(spark, queries, centroids, n_probe)
    # candidates co-located by cell; probe set broadcast (queries are small)
    joined = indexed.join(
        F.broadcast(probes),
        (indexed["cell"] == probes["cell"]) & (indexed["vec_id"] != probes["qid"]),
    )
    cos = V.dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid").asc())
    return (
        joined.select("qid", F.col("vec_id").alias("cid"), cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .orderBy("qid", "rn")
    )


def build_ivfpq_index(
    emb: DataFrame,
    vec_col: str = "embedding",
    k_cells: int = 16,
    n_subspaces: int = 8,
    k_codes: int = 64,
    n_iter: int = 3,
    fit_fraction: float | None = None,
    residual: bool = False,
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]]]:
    """IVF-PQ: the canonical billion-scale ANN layout (FAISS
    ``IVFx,PQy``) as pure DataFrame ops — coarse k-means cells prune the
    scan to ``n_probe/k`` of the corpus, and inside the postings each
    vector is 8 six-bit PQ codes + a true norm instead of floats
    (~40× less index bandwidth on top of the cell pruning).

    Returns ``(postings, centroids, codebooks)`` with postings
    (vec_id, cell, k0..k{M-1}, nrm) repartitioned by cell.

    ``residual=True`` is the textbook IVFADC: codebooks fit on and
    codes encode the RESIDUAL ``v − centroid[cell]`` — the right choice
    on real, clustered embeddings where residuals are much smaller than
    raw vectors. The FIXTURE embeddings are isotropic unit vectors
    (uniform on the sphere: ‖v‖=1, dist-to-mean ≈ 1), where cell
    centroids are near-zero and residual ≈ v, so residual fitting adds
    noise for nothing — measured recall@5: raw 0.36 vs residual 0.24 at
    identical budget. Hence the raw default HERE, with the residual
    path implemented, tested, and one flag away."""
    from bigdata_processing_spark.operators.quantization import pq_encode, pq_fit

    indexed, centroids = build_ivf_index(
        emb, vec_col=vec_col, k_cells=k_cells, n_iter=n_iter,
        fit_fraction=fit_fraction,
    )
    enc_src = indexed
    if residual:
        cdf = literal_df(
            indexed.sparkSession, [(i, list(c)) for i, c in enumerate(centroids)],
            "cell int, cent array<double>",
        )
        enc_src = indexed.join(F.broadcast(cdf), "cell").withColumn(
            "e", F.zip_with("e", "cent", lambda x, y: x - y)
        ).drop("cent")
    codebooks = pq_fit(
        enc_src, vec_col="e", n_subspaces=n_subspaces, k=k_codes, n_iter=n_iter
    )
    code_cols = [f"k{m}" for m in range(n_subspaces)]
    postings = (
        pq_encode(enc_src, codebooks, vec_col="e")
        .select("vec_id", "cell", "nrm", *code_cols)
        .repartition("cell")
    )
    return postings, centroids, codebooks


def ivfpq_search(
    postings: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    top_k: int = 5,
    n_probe: int = 2,
    residual: bool = False,
) -> DataFrame:
    """Multi-probe ADC search over the PQ postings: rank cells per query
    (broadcast centroid table), then score codes only inside the probed
    cells. Output (qid, cid, adc_cos, rn) — recall-comparable to
    ivf_search / knn_bruteforce.

    With ``residual=True`` the score is
    ``dot(q, centroid[cell]) + dot(q, dequant(residual codes))`` — the
    centroid term is computed ONCE per (query, probed cell) pair
    (queries × n_probe rows, broadcast-sized), never per candidate."""
    from bigdata_processing_spark.operators.quantization import (
        pq_adc_lut_sql,
        pq_lut_expr,
    )

    spark = postings.sparkSession
    probes = _cell_probes(spark, queries, centroids, n_probe)
    if residual:
        cdf = literal_df(
            spark, [(i, list(c)) for i, c in enumerate(centroids)],
            "cell int, cent array<double>",
        )
        qc_dot = F.aggregate(
            F.zip_with("qe", "cent", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        probes = (
            probes.join(F.broadcast(cdf), "cell")
            .withColumn("qc", qc_dot)
            .drop("cent")
        )
    # probes already carries (qid, qe, qn, cell[, qc]): one broadcast join
    # pairs each candidate row with exactly its probing queries. The ADC
    # lookup table rides the broadcast side too (M·K doubles per probe
    # row) so each candidate scores as M array lookups, not M folds.
    probes = probes.withColumn("_adc_lut", pq_lut_expr(codebooks))
    cand = postings.join(F.broadcast(probes), ["cell"]).filter(
        F.col("vec_id") != F.col("qid")
    )
    adc = F.expr(pq_adc_lut_sql(
        len(codebooks), centroid_dot_col="qc" if residual else None
    ))
    w = Window.partitionBy("qid").orderBy(F.col("adc_cos").desc(), F.col("cid").asc())
    return (
        cand.select("qid", F.col("vec_id").alias("cid"), adc.alias("adc_cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .orderBy("qid", "rn")
    )


def write_ivfpq_index(postings: DataFrame, centroids: list[list[float]],
                      codebooks: list[list[list[float]]], path: str) -> None:
    """Persist the PQ postings ``PARTITIONED BY (cell)`` plus the coarse
    centroids and the per-subspace codebooks (tiny parquet sidecars) —
    same on-disk contract as write_ivf_index, with codes instead of
    float vectors: a probe reads ``n_probe/k`` of an index that is
    itself ~40× smaller."""
    postings.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/postings")
    spark = postings.sparkSession
    literal_df(
        spark, [(i, c) for i, c in enumerate(centroids)],
        "cell int, cent array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    rows = [
        (m, j, list(c))
        for m, book in enumerate(codebooks)
        for j, c in enumerate(book)
    ]
    literal_df(
        spark, rows, "m int, code int, cent array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def read_ivfpq_index(spark, path: str):
    """(postings, centroids, codebooks) back from :func:`write_ivfpq_index`."""
    postings = spark.read.parquet(f"{path}/postings")
    crows = spark.read.parquet(f"{path}/centroids").collect()
    by_id = {r.cell: list(r.cent) for r in crows}
    centroids = [by_id[i] for i in sorted(by_id)]
    brows = spark.read.parquet(f"{path}/codebooks").collect()
    n_m = max(r.m for r in brows) + 1
    codebooks: list[list[list[float]]] = [[] for _ in range(n_m)]
    for m in range(n_m):
        sub = sorted((r for r in brows if r.m == m), key=lambda r: r.code)
        codebooks[m] = [list(r.cent) for r in sub]
    return postings, centroids, codebooks


def ivfpq_search_on_disk(postings: DataFrame, centroids: list[list[float]],
                         codebooks: list[list[list[float]]],
                         queries: DataFrame, top_k: int = 5,
                         n_probe: int = 2) -> DataFrame:
    """ADC search against the disk-resident PQ index with the probed-cell
    union pushed into the SCAN as a partition predicate (directory
    pruning, as in ivf_search_on_disk) before the per-query cell
    restriction in the join."""
    spark = postings.sparkSession
    probes = _cell_probes(spark, queries, centroids, n_probe)
    cells = [r.cell for r in probes.select("cell").distinct().collect()]
    pruned = postings.filter(F.col("cell").isin(cells))
    from bigdata_processing_spark.operators.quantization import (
        pq_adc_lut_sql,
        pq_lut_expr,
    )

    probes = probes.withColumn("_adc_lut", pq_lut_expr(codebooks))
    cand = pruned.join(F.broadcast(probes), ["cell"]).filter(
        F.col("vec_id") != F.col("qid")
    )
    w = Window.partitionBy("qid").orderBy(F.col("adc_cos").desc(), F.col("cid").asc())
    return (
        cand.select(
            "qid",
            F.col("vec_id").alias("cid"),
            F.expr(pq_adc_lut_sql(len(codebooks))).alias("adc_cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .orderBy("qid", "rn")
    )

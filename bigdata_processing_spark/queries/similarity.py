"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

North-star LLM-pipeline surface (SURVEY.md §2.12). Two tiers:

- ``knn_bruteforce``: exact cosine top-k for a bounded query set. The
  query side is broadcast; the candidate table streams once — the right
  brute-force shape at scale (never a full n×n product).
- ``knn_ivf_label``: IVF-style search — candidates pruned to the query's
  coarse partition (the ``label`` column stands in for a cluster
  assignment). This is the 100TB path: partition the index by cell,
  probe only matching cells.

All vector math is JVM-side fold expressions (functions/vectors.py);
elements are cast to double pre-arithmetic so DuckDB oracles agree
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_processing_spark import cache
from bigdata_processing_spark.catalog import load_table, table_rows
from bigdata_processing_spark.functions import vectors as V
from bigdata_processing_spark.queries import register
from bigdata_processing_spark.sources.writers import literal_df
from bigdata_processing_spark.queries.dedup import _SQL_EMB_ASSIGN
from bigdata_processing_spark.operators.topk import grouped_topk
from bigdata_processing_spark.thresholds import (
    HARD_NEG_N_PROBE,
    HARD_NEG_PROBE_SWEEP,
)

_COS = """list_dot_product(qe, ce)
                   / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce)))"""

# hard_negative_probe_sweep thins its anchor set above this many anchors
# (deterministic xxhash64 subsample, same subset on approx + truth legs).
# Anchors are every-100th vector, so the cap binds only past ~51k
# vectors — never at oracle (sf0.01) or bench (sf0.1) scale; it exists
# for the 100× probe and beyond, where the brute truth leg's work is
# linear in anchors.
_SWEEP_ANCHOR_CAP = 512


def _pair_dot(sf_dir: str):
    """Regime-switched pair dot for the celled family (round 13): the
    JVM sequential fold below the exact-assign bound — bit-identical to
    the oracle's ``list_dot_product`` AND free of the ~1 s fixed Arrow
    round-trip that dominated the small in-cell pair frames — the
    vectorized numpy kernel above it, where pair volume pays for the
    boundary and no oracle runs."""
    from bigdata_processing_spark.queries.dedup import EMB_EXACT_ASSIGN_MAX

    n = table_rows(sf_dir, "embeddings")
    return V.dot if n <= EMB_EXACT_ASSIGN_MAX else V.dot_vectorized


def _persist_if_pruned(scored: DataFrame, n_rows: int) -> DataFrame:
    """Persist + eagerly materialize a scored pair frame when
    ``grouped_topk`` will take the histogram-pruned path (``n_rows`` ≥
    PRUNE_MIN_ROWS). The prune evaluates its input twice; for the brute
    family that input is the dot-scoring itself, so the cache turns the
    second evaluation into a read — and the eager count keeps the
    threshold broadcast job from building a multi-GB cache under
    spark.sql.broadcastTimeout. No-op (and no extra plan nodes) below
    the bound, so fixture-scale plans are unchanged. Held in the
    session cache for the bench cold-pass discipline."""
    from bigdata_processing_spark.operators.topk import PRUNE_MIN_ROWS

    if n_rows < PRUNE_MIN_ROWS:
        return scored
    scored = cache.hold(scored)
    scored.count()
    return scored


def _spread(df: DataFrame) -> DataFrame:
    """Spread a CPU-bound corpus side across every core. The embedding
    frames are tiny in BYTES, so the size-based parquet split leaves
    them on a handful of partitions — but each downstream broadcast-kNN
    pair scores interpreted vector arithmetic, and the 10x sweep
    measured every brute/PQ/int8 query's dominant stage running 10
    tasks on a 32-core host. One ~n-row round-robin shuffle before the
    heavy join; 2x defaultParallelism scales with the rig."""
    return df.repartition(2 * df.sparkSession.sparkContext.defaultParallelism)


def _with_norm(emb: DataFrame, id_alias: str, e_alias: str, n_alias: str,
               extra: dict[str, str] | None = None) -> DataFrame:
    """Project (id, embedding-as-double, precomputed norm [, extras]) —
    norms are computed once per vector, never per pair."""
    cols = [
        F.col("vec_id").alias(id_alias),
        F.col("embedding").cast("array<double>").alias(e_alias),
        V.norm(F.col("embedding")).alias(n_alias),
    ]
    for src, alias in (extra or {}).items():
        cols.append(F.col(src).alias(alias))
    return emb.select(*cols)


@register(
    "knn_bruteforce",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
            FROM embeddings WHERE vec_id % 100 = 0
        ),
        c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings),
        s AS (
            SELECT qid, cid, {_COS} AS cos_sim
            FROM q JOIN c ON cid <> qid
        )
        SELECT qid, cid, cos_sim, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) AS rn
            FROM s
        )
        WHERE rn <= 5
        ORDER BY qid, rn
    """,
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = _with_norm(emb.filter(F.col("vec_id") % 100 == 0), "qid", "qe", "qn")
    c = _spread(_with_norm(emb, "cid", "ce", "cn"))
    joined = c.join(F.broadcast(q), F.col("cid") != F.col("qid"))
    cos = V.dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    scored = joined.select("qid", "cid", cos.alias("cos_sim"))
    # top-k through the regime-switched histogram prune (round 12): the
    # naive window's partial-stage local sort of the n×(n/100) pair
    # frame spilled 19.8 GB at the 100× probe; above the bound the
    # scored frame is persisted once and only its top band is sorted.
    n = table_rows(sf_dir, "embeddings")  # footer count == emb.count()
    n_pairs = n * max(1, n // 100)
    scored = _persist_if_pruned(scored, n_pairs)
    return (
        grouped_topk(scored, 5, "qid", "cos_sim", "cid", n_pairs)
        .withColumn("rn", F.col("rn").cast("long"))
        .orderBy("qid", "rn")
    )


@register(
    "hard_negatives",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS qid, label AS qlabel, embedding::DOUBLE[] AS qe
            FROM embeddings WHERE vec_id % 100 = 0
        ),
        c AS (SELECT vec_id AS cid, label AS clabel, embedding::DOUBLE[] AS ce FROM embeddings),
        s AS (
            SELECT qid, cid, clabel, {_COS} AS cos_sim
            FROM q JOIN c ON clabel <> qlabel
        )
        SELECT qid, cid, clabel, cos_sim, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) AS rn
            FROM s
        )
        WHERE rn <= 3
        ORDER BY qid, rn
    """,
)
def hard_negatives(
    spark: SparkSession, sf_dir: str, anchor_keep_mod: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the top-3 most-similar vectors with a DIFFERENT label — the
    near-misses a triplet/InfoNCE loss learns the most from. Same
    broadcast-anchor + per-anchor window shape as knn_bruteforce (the
    label inequality only flips the join predicate), so the 100 TB scale
    path is identical: anchors broadcast, candidates never shuffle, and
    at corpus scale the IVF-celled variant prunes candidates the same
    way knn_ivf_* does for positives.

    ``anchor_keep_mod``: keep only anchors with
    ``xxhash64(vec_id) % mod == 0`` — the probe-sweep's audit-scale
    bound (each anchor's truth row is independent, so a deterministic
    hash-thin preserves the recall estimate). The registered query
    never sets it."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 100 == 0)
    if anchor_keep_mod is not None and anchor_keep_mod > 1:
        # deterministic 1/mod hash-thin of the anchor set — the sweep's
        # probe-scale bound (see hard_negative_probe_sweep); never set
        # on the registered call, so the query's own contract is intact
        anchors = anchors.filter(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(anchor_keep_mod)) == 0
        )
    q = _with_norm(anchors, "qid", "qe", "qn", extra={"label": "qlabel"})
    c = _spread(_with_norm(emb, "cid", "ce", "cn", extra={"label": "clabel"}))
    joined = c.join(F.broadcast(q), F.col("clabel") != F.col("qlabel"))
    cos = V.dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    scored = joined.select("qid", "cid", "clabel", cos.alias("cos_sim"))
    n = table_rows(sf_dir, "embeddings")  # footer count == emb.count()
    n_pairs = n * max(1, (n // 100) // (anchor_keep_mod or 1))
    scored = _persist_if_pruned(scored, n_pairs)
    return (
        grouped_topk(scored, 3, "qid", "cos_sim", "cid", n_pairs)
        .withColumn("rn", F.col("rn").cast("long"))
        .orderBy("qid", "rn")
    )


def _anchor_probe_ranks(spark, base, cents) -> DataFrame:
    """(qid, qlabel, qe, qn, cell, pr): every cell ranked per anchor by
    the IVF assignment score (c·c − 2·e·c, ties by cell — the identical
    ranking seeded_probe_cells / the oracle's ORDER BY use). Anchors =
    vec_id % 100; centroids broadcast (k rows)."""

    def self_dot(v):
        acc = 0.0
        for x in v:
            acc += x * x
        return acc

    cdf = literal_df(
        spark, [(i, list(c), self_dot(c)) for i, c in enumerate(cents)],
        "cell int, cent array<double>, cc double",
    )
    q = base.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    sc = F.col("cc") - 2.0 * F.aggregate(
        F.zip_with("qe", "cent", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pw = Window.partitionBy("qid").orderBy("s", "cell")
    return (
        q.crossJoin(F.broadcast(cdf))
        .select("qid", "qlabel", "qe", "qn", "cell", sc.alias("s"))
        .withColumn("pr", F.row_number().over(pw))
        .drop("s")
    )


_SQL_APROBE = """
        aprobe AS (
            SELECT qid, qlabel, qe, qn, cell AS pcell, pr FROM (
                SELECT q.qid, q.qlabel, q.qe, q.qn, c.cell,
                       row_number() OVER (
                           PARTITION BY q.qid
                           ORDER BY list_dot_product(c.c, c.c)
                                    - 2 * list_dot_product(q.qe, c.c) ASC,
                                    c.cell ASC) AS pr
                FROM q CROSS JOIN cents c
            )
        )
"""


@register(
    "hard_negatives_celled",
    oracle=f"""
        WITH {_SQL_EMB_ASSIGN},
        q AS (
            SELECT vec_id AS qid, label AS qlabel, v AS qe, nrm AS qn
            FROM assigned WHERE vec_id % 100 = 0
        ),
        {_SQL_APROBE},
        s AS (
            SELECT p.qid, a.vec_id AS cid, a.label AS clabel,
                   list_dot_product(p.qe, a.v) / (p.qn * a.nrm) AS cos_sim
            FROM aprobe p
            JOIN assigned a ON a.cell = p.pcell AND a.label <> p.qlabel
            WHERE p.pr <= {HARD_NEG_N_PROBE}
        )
        SELECT qid, cid, clabel, cos_sim, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY qid
                                         ORDER BY cos_sim DESC, cid ASC) AS rn
            FROM s
        )
        WHERE rn <= 3
        ORDER BY qid, rn
    """,
)
def hard_negatives_celled(
    spark: SparkSession, sf_dir: str, n_probe: int = HARD_NEG_N_PROBE,
) -> DataFrame:
    """IVF-celled hard-negative mining — the corpus-scale variant the
    brute-force ``hard_negatives`` docstring promises: each anchor
    probes its ``n_probe`` NEAREST IVF cells for different-label
    neighbors, reusing the memoized ``_emb_assigned`` base.

    Multi-probe is load-bearing here, not a tweak: hard negatives live
    near the DECISION BOUNDARY, which is exactly where cell assignment
    is ambiguous — n_probe=1 measured recall@3 of just 0.067 vs the
    brute-force truth at sf0.1, while 8 of ~51 cells (≈16% of the
    corpus per anchor) recovers 0.45 (round-6 trained cells; the
    round-5 seeded quantizer managed only 0.30 at the same scan
    fraction — ivf_sweep.py's quantizer table. The full measured curve is
    ``hard_negative_probe_sweep``; thresholds.HARD_NEG_N_PROBE pins the
    default).

    Scale shape: the candidate join is keyed on the probed cell (label
    inequality rides as a residual), so work is Σ |anchors probing c| ·
    |cands_c| — cell count grows with n, bounding per-cell work, and
    no anchor set is ever broadcast."""
    from bigdata_processing_spark.queries.dedup import _emb_assigned

    base, cents = _emb_assigned(spark, sf_dir)
    probes = _anchor_probe_ranks(spark, base, cents).filter(
        F.col("pr") <= n_probe
    )
    c = base.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("cell").alias("ccell"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    joined = probes.join(
        c,
        (F.col("cell") == F.col("ccell")) & (F.col("clabel") != F.col("qlabel")),
    )
    cos = _pair_dot(sf_dir)(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid").asc())
    return (
        joined.select("qid", "cid", "clabel", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .orderBy("qid", "rn")
    )


@register(
    "hard_negative_probe_sweep",
    oracle=f"""
        WITH {_SQL_EMB_ASSIGN},
        q AS (
            SELECT vec_id AS qid, label AS qlabel, v AS qe, nrm AS qn
            FROM assigned WHERE vec_id % 100 = 0
        ),
        {_SQL_APROBE},
        cand AS (
            SELECT p.qid, a.vec_id AS cid, p.pr,
                   list_dot_product(p.qe, a.v) / (p.qn * a.nrm) AS cos_sim
            FROM aprobe p
            JOIN assigned a ON a.cell = p.pcell AND a.label <> p.qlabel
        ),
        grid AS (SELECT unnest([{", ".join(str(p) for p in HARD_NEG_PROBE_SWEEP)}]) AS n_probe),
        approx AS (
            SELECT n_probe, qid, cid FROM (
                SELECT g.n_probe, c.qid, c.cid,
                       row_number() OVER (
                           PARTITION BY g.n_probe, c.qid
                           ORDER BY c.cos_sim DESC, c.cid ASC) AS rn
                FROM grid g JOIN cand c ON c.pr <= g.n_probe
            ) WHERE rn <= 3
        ),
        truth AS (
            SELECT qid, cid FROM (
                SELECT q.qid, a.vec_id AS cid,
                       row_number() OVER (
                           PARTITION BY q.qid
                           ORDER BY list_dot_product(q.qe, a.v) / (q.qn * a.nrm)
                                        DESC, a.vec_id ASC) AS rn
                FROM q JOIN assigned a ON a.label <> q.qlabel
            ) WHERE rn <= 3
        )
        SELECT g.n_probe,
               (SELECT count(*) FROM truth) AS n_true,
               sum(CASE WHEN ap.cid IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_found,
               round(avg(CASE WHEN ap.cid IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
                   AS recall_at_3
        FROM grid g
        CROSS JOIN truth t
        LEFT JOIN approx ap
          ON ap.n_probe = g.n_probe AND t.qid = ap.qid AND t.cid = ap.cid
        GROUP BY g.n_probe
        ORDER BY g.n_probe
    """,
)
def hard_negative_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the celled hard-negative miner per ``n_probe`` in
    HARD_NEG_PROBE_SWEEP, against the brute-force different-label truth
    — the measured curve behind thresholds.HARD_NEG_N_PROBE. One tagged
    pass: candidates carry the probe rank at which their cell enters,
    each grid point re-ranks the ``pr <= n_probe`` subset (sweep
    pattern of lsh_band_sweep / semantic_dedup_sweep). Truth is the
    bounded-anchor broadcast shape, so the audit runs at any scale the
    brute-force baseline does.

    Probe-scale anchor bound (round 12, VERDICT r11 #6): above
    ``_SWEEP_ANCHOR_CAP`` anchors the sweep hash-thins the anchor set
    deterministically (``xxhash64(qid) % mod == 0``, the SAME subset on
    the approx and truth legs). The truth table is per-anchor
    independent, so thinning anchors is an unbiased subsample of the
    recall curve — it bounds the brute truth leg's work (923 s at 100×
    was all full-anchor exact legs) without touching the sweep's
    semantics. At fixture scales (≤ ~51k vectors → ≤ 512 anchors) the
    cap never binds, so the oracle and bench rows are unchanged."""
    import math

    from bigdata_processing_spark.queries.dedup import _emb_assigned

    base, cents = _emb_assigned(spark, sf_dir)
    n_anchors = base.filter(F.col("vec_id") % 100 == 0).count()
    keep_mod = (
        math.ceil(n_anchors / _SWEEP_ANCHOR_CAP)
        if n_anchors > _SWEEP_ANCHOR_CAP else None
    )
    probes = _anchor_probe_ranks(spark, base, cents)
    if keep_mod is not None:
        probes = probes.filter(
            F.pmod(F.xxhash64(F.col("qid")), F.lit(keep_mod)) == 0
        )
    # Only cells within the grid's DEEPEST probe depth can ever reach
    # the output (every grid point filters c.pr <= n_probe ≤ max grid;
    # the oracle's unfiltered cand CTE is pruned by the same predicate
    # at its approx join) — so candidates from the other cells are pure
    # waste. At 100× the √n cell policy makes this the difference
    # between scoring 12/1563 of the corpus per anchor and ALL of it
    # (round 12; the probe measured 150.9 s of Arrow dot work on the
    # unfiltered frame).
    probes = probes.filter(F.col("pr") <= max(HARD_NEG_PROBE_SWEEP))
    c = base.select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("cell").alias("ccell"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    cos = _pair_dot(sf_dir)(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    # materialization barrier: the grid join below is non-equi (pr <=
    # n_probe → BroadcastNestedLoopJoin), which re-evaluates its stream
    # side's subtree — without the persist the probe join + Arrow dot
    # kernel re-run per grid point (measured 15.7s vs 0.8s for the same
    # 300-row result). Held in the session cache so bench's cold pass
    # still measures the standalone cost.
    cand = cache.hold(
        probes.join(
            c,
            (F.col("cell") == F.col("ccell"))
            & (F.col("clabel") != F.col("qlabel")),
        )
        .select("qid", "cid", "pr", cos.alias("cos_sim"))
    )
    grid = literal_df(
        spark, [(p,) for p in HARD_NEG_PROBE_SWEEP], "n_probe int"
    )
    w = Window.partitionBy("n_probe", "qid").orderBy(
        F.col("cos_sim").desc(), F.col("cid").asc()
    )
    approx = (
        grid.join(cand, cand.pr <= grid.n_probe)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("n_probe", "qid", F.col("cid").alias("acid"))
    )
    truth = hard_negatives(
        spark, sf_dir, anchor_keep_mod=keep_mod
    ).select("qid", "cid")
    # left-join truth×grid against the per-grid approx set
    tg = grid.crossJoin(truth)
    j = tg.join(
        approx,
        (tg.n_probe == approx.n_probe)
        & (tg.qid == approx.qid)
        & (tg.cid == approx.acid),
        "left",
    )
    found = F.when(F.col("acid").isNotNull(), 1).otherwise(0)
    return (
        j.groupBy(tg.n_probe.alias("n_probe"))
        .agg(
            F.count("*").alias("n_true"),
            F.sum(found).alias("n_found"),
            F.round(F.avg(found.cast("double")), 6).alias("recall_at_3"),
        )
        .orderBy("n_probe")
    )


@register(
    "knn_ivf_label",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS qid, label AS qlabel, embedding::DOUBLE[] AS qe
            FROM embeddings WHERE vec_id % 100 = 0
        ),
        c AS (SELECT vec_id AS cid, label AS clabel, embedding::DOUBLE[] AS ce FROM embeddings),
        s AS (
            SELECT qid, cid, {_COS} AS cos_sim
            FROM q JOIN c ON clabel = qlabel AND cid <> qid
        )
        SELECT qid, cid, cos_sim, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) AS rn
            FROM s
        )
        WHERE rn <= 5
        ORDER BY qid, rn
    """,
)
def knn_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = _with_norm(
        emb.filter(F.col("vec_id") % 100 == 0), "qid", "qe", "qn", {"label": "qlabel"}
    )
    c = _spread(_with_norm(emb, "cid", "ce", "cn", {"label": "clabel"}))
    joined = c.join(
        F.broadcast(q), (F.col("clabel") == F.col("qlabel")) & (F.col("cid") != F.col("qid"))
    )
    cos = V.dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    scored = joined.select("qid", "cid", cos.alias("cos_sim"))
    # n×(n/100) upper bound — the label equi-join keeps a fraction of
    # it, so the regime flips conservatively late
    n = table_rows(sf_dir, "embeddings")  # footer count == emb.count()
    n_pairs = n * max(1, n // 100)
    scored = _persist_if_pruned(scored, n_pairs)
    return (
        grouped_topk(scored, 5, "qid", "cos_sim", "cid", n_pairs)
        .withColumn("rn", F.col("rn").cast("long"))
        .orderBy("qid", "rn")
    )


@register(
    "quantized_knn_sample",
    oracle="""
        WITH q8 AS (
            SELECT vec_id,
                   greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0, 1e-30) AS scale,
                   list_transform(embedding::DOUBLE[],
                       x -> floor(x / greatest(list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) / 127.0, 1e-30)
                                  + 0.5)::INT) AS qvec
            FROM embeddings
        ),
        qs AS (SELECT vec_id AS qid, scale AS qscale, qvec AS qq FROM q8 WHERE vec_id % 100 = 0),
        s AS (
            SELECT qid, c.vec_id AS cid,
                   list_dot_product(qq::DOUBLE[], c.qvec::DOUBLE[]) * qscale * c.scale AS qdot
            FROM qs JOIN q8 c ON c.vec_id <> qid
        )
        SELECT qid, cid, round(qdot, 9) AS qdot, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, cid ASC) AS rn
            FROM s
        )
        WHERE rn <= 5
        ORDER BY qid, rn
    """,
)
def quantized_knn_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN over int8-quantized embeddings (operators/quantization.py):
    the 4x-memory-reduction index path; integer dot + rescale."""
    from bigdata_processing_spark.operators.quantization import quantize, quantized_dot

    emb = quantize(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("qvec").alias("qq"),
        F.col("scale").alias("qscale"),
    )
    c = _spread(emb.select("vec_id", "qvec", "scale"))
    joined = c.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    qdot = quantized_dot(F.col("qq"), F.col("qscale"), F.col("qvec"), F.col("scale"))
    # rank on the RAW dot (matching the oracle, which rounds only for
    # display) — ranking on the rounded value would break near-ties
    # differently than DuckDB at the top-5 boundary
    scored = joined.select(
        "qid", F.col("vec_id").alias("cid"), qdot.alias("qdot_raw")
    )
    n = table_rows(sf_dir, "embeddings")  # footer count == emb.count()
    n_pairs = n * max(1, n // 100)
    scored = _persist_if_pruned(scored, n_pairs)
    return (
        grouped_topk(scored, 5, "qid", "qdot_raw", "cid", n_pairs)
        .withColumn("rn", F.col("rn").cast("long"))
        .select("qid", "cid", F.round("qdot_raw", 9).alias("qdot"), "rn")
        .orderBy("qid", "rn")
    )


@register(
    "knn_ivf_seeded",
    oracle=f"""
        WITH seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                   embedding::DOUBLE[] AS c
            FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
        ),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        scored AS (
            SELECT v.vec_id, s.cell,
                   list_dot_product(s.c, s.c) - 2 * list_dot_product(v.e, s.c) AS sc
            FROM v CROSS JOIN seeds s
        ),
        assign AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY sc, cell) AS rn
                FROM scored
            ) WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS qid, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY sc, cell) AS rn
                FROM scored WHERE vec_id % 100 = 0
            ) WHERE rn <= 2
        ),
        cand AS (
            SELECT p.qid, a.vec_id AS cid
            FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.qid
        ),
        s2 AS (
            SELECT qid, cid,
                   list_dot_product(q.e, c.e)
                       / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS cos_sim
            FROM cand
            JOIN v q ON q.vec_id = cand.qid
            JOIN v c ON c.vec_id = cand.cid
        )
        SELECT qid, cid, cos_sim, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) AS rn
            FROM s2
        )
        WHERE rn <= 5
        ORDER BY qid, rn
    """,
)
def knn_ivf_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN with a *seeded* coarse quantizer: cells are the
    8 lowest-id corpus vectors (operators/ivf.seed_centroids), so the
    whole pipeline — cell assignment, per-query probe ranking, in-cell
    cosine top-k — is deterministic and bit-exactly SQL-expressible. The
    driver-checkable twin of ``knn_ivf_kmeans`` (same plan shape: pruned
    candidates, broadcast queries, no n×n product); only the quantizer
    fit differs (sample-seeded here vs k-means-refined there)."""
    from bigdata_processing_spark.operators.ivf import (
        seed_centroids,
        seeded_assign_best,
        seeded_probe_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, 8)
    base = _with_norm(emb, "vec_id", "e", "nrm").withColumn(
        "cell", seeded_assign_best(cents).getField("cell")
    )
    q = (
        base.filter(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qn"),
            F.explode(seeded_probe_cells(cents, 2)).alias("pcell"),
        )
    )
    joined = base.join(
        F.broadcast(q), (base["cell"] == q["pcell"]) & (base["vec_id"] != q["qid"])
    )
    cos = V.dot(F.col("qe"), F.col("e")) / (F.col("qn") * F.col("nrm"))
    scored = joined.select(
        "qid", F.col("vec_id").alias("cid"), cos.alias("cos_sim")
    )
    # celled candidates ≈ n·(n/100)·(n_probe/k): the r12 tier-2 probe
    # still measured a 3.5 GB window sort at 100× — regime-switched like
    # the brute family (scoring is the bit-contract fold, so the pruned
    # path persists it rather than evaluate twice)
    n = table_rows(sf_dir, "embeddings")  # footer count == emb.count()
    n_pairs = n * max(1, n // 100) // 4
    scored = _persist_if_pruned(scored, n_pairs)
    return (
        grouped_topk(scored, 5, "qid", "cos_sim", "cid", n_pairs)
        .withColumn("rn", F.col("rn").cast("long"))
        .orderBy("qid", "rn")
    )


@register(
    "kmeans_iteration_stats",
    oracle="""
        WITH seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                   embedding::DOUBLE[] AS c
            FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
        ),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        scored AS (
            SELECT v.vec_id, s.cell,
                   list_dot_product(s.c, s.c) - 2 * list_dot_product(v.e, s.c) AS sc
            FROM v CROSS JOIN seeds s
        ),
        assign AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY sc, cell) AS rn
                FROM scored
            ) WHERE rn = 1
        ),
        cnt AS (SELECT cell, count(*) AS n_vecs FROM assign GROUP BY cell),
        dims AS (
            SELECT a.cell, generate_subscripts(v.e, 1) AS d, unnest(v.e) AS x
            FROM assign a JOIN v ON a.vec_id = v.vec_id
        ),
        dimavg AS (SELECT cell, d, avg(x) AS m FROM dims GROUP BY cell, d),
        cent1 AS (SELECT cell, list(m ORDER BY d) AS c1 FROM dimavg GROUP BY cell)
        SELECT cell::BIGINT AS cluster,
               n_vecs,
               sqrt(list_dot_product(c1, c1)) AS c_norm,
               sqrt(greatest(
                   list_dot_product(c1, c1) - 2 * list_dot_product(c1, s.c)
                       + list_dot_product(s.c, s.c), 0)) AS drift
        FROM cent1 JOIN cnt USING (cell) JOIN seeds s USING (cell)
        ORDER BY cluster
    """,
)
def kmeans_iteration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full k-means iteration from deterministic seed centroids:
    argmin assignment (bit-exact across engines — discrete outputs), then
    the centroid update (per-dimension mean; float outputs under the
    driver's tolerance). Cluster sizes, the updated centroid's norm, and
    its drift from the seed are exactly what a k-means convergence
    monitor reports per iteration — and every step is SQL-expressible, so
    the distributed update loop (operators/clustering.kmeans_fit, which
    just repeats this) gets a driver-checked fixed-point oracle."""
    from bigdata_processing_spark.operators.ivf import seed_centroids, seeded_assign_best

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, 8)
    dim = len(cents[0])
    assigned = emb.select(
        F.col("embedding").cast("array<double>").alias("e")
    ).withColumn("cell", seeded_assign_best(cents).getField("cell"))
    # SQL-string expressions: the 64 avg columns + the 8×64 seed literal
    # array cost ~0.7 s of py4j Column construction per call (r12, same
    # trade as ivf._scores_sql); doubles embed as shortest-repr literals
    # (correctly-rounded parse recovers identical bits), arithmetic
    # unchanged
    upd = assigned.groupBy("cell").agg(
        F.count("*").alias("n_vecs"),
        *[F.expr(f"avg(e[{d}])").alias(f"m{d}") for d in range(dim)],
    )
    c1 = F.expr("array(" + ",".join(f"m{d}" for d in range(dim)) + ")")
    seed_lit = F.expr("array(" + ",".join(
        "array(" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in c) + ")"
        for c in cents
    ) + ")")
    seed = F.element_at(seed_lit, F.col("cell") + 1)
    # drift via the algebraic expansion |c1 - seed|² = c1·c1 − 2·c1·seed
    # + seed·seed (clamped: rounding can push an exact-zero negative)
    d2 = V.dot(c1, c1) - 2 * V.dot(c1, seed) + V.dot(seed, seed)
    return (
        upd.select(
            F.col("cell").cast("long").alias("cluster"),
            "n_vecs",
            F.sqrt(V.dot(c1, c1)).alias("c_norm"),
            F.sqrt(F.greatest(d2, F.lit(0.0))).alias("drift"),
        )
        .orderBy("cluster")
    )


@register("knn_ivf_kmeans", driver=False)  # no oracle: quantizer is iterative
# k-means (not SQL-expressible); quality gate is recall@5 vs exact brute
# force in tests/test_ivf.py.
def knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN over real k-means cells (operators/ivf.py) —
    the production replacement for the fixture-label IVF above.
    Round 12: scores through ``ivf_search_matmul`` (cogrouped per-cell
    BLAS matmul, cell-local top-k) — this query has no SQL twin, so it
    takes the production scorer; the r12 attribution measured the
    interpreted fold at 243 s of the 100× probe's wall where the
    matmul path is bound by one Arrow pass. Fixture-scale top-k
    equality with the exact scorer is pinned in tests/test_ivf.py."""
    from bigdata_processing_spark.operators.ivf import (
        FIT_SAMPLE_TARGET,
        build_ivf_index,
        ivf_search_matmul,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # fit fraction from the parquet footer count — build_ivf_index's
    # default runs a count job just to derive it (round 13)
    n = table_rows(sf_dir, "embeddings")
    indexed, centroids = build_ivf_index(
        emb, k_cells=8, n_iter=2,
        fit_fraction=min(1.0, FIT_SAMPLE_TARGET / max(n, 1)),
    )
    # no persist here: this one-shot query probes the index exactly once,
    # so caching would only add memory churn (callers that reuse an index
    # across query batches persist it themselves / write_ivf_index it)
    q = indexed.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    return ivf_search_matmul(indexed, centroids, q, top_k=5, n_probe=2)


@register("kmeans_clusters", driver=False)  # no oracle: iterative (driver loops
# over k centroids only; all data-sized work is distributed per iteration)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_processing_spark.operators.clustering import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    # inertia off: this query reports cluster SIZES only — the
    # convergence metric was two discarded full-data jobs (r12)
    assignments, _ = kmeans_fit(emb, k=8, n_iter=2, compute_inertia=False)
    return (
        assignments.groupBy("cluster")
        .agg(F.count("*").alias("n_vecs"))
        .orderBy("cluster")
    )


@register(
    "matryoshka_knn_recall",
    oracle="""
        WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] AS e,
                   (embedding::DOUBLE[])[1:16] AS e16
            FROM embeddings
        ),
        q AS (
            SELECT vec_id AS qid, e AS qe, e16 AS qe16 FROM v
            WHERE vec_id % 100 = 0
        ),
        s AS (
            SELECT qid, v.vec_id AS cid,
                   list_dot_product(qe, e)
                       / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))) AS cf,
                   list_dot_product(qe16, e16)
                       / (sqrt(list_dot_product(qe16, qe16)) * sqrt(list_dot_product(e16, e16))) AS ct
            FROM q JOIN v ON v.vec_id <> qid
        ),
        tf AS (
            SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cf DESC, cid) AS rn
                FROM s
            ) WHERE rn <= 5
        ),
        tt AS (
            SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY ct DESC, cid) AS rn
                FROM s
            ) WHERE rn <= 5
        ),
        h AS (SELECT qid, count(*) AS hits FROM tf JOIN tt USING (qid, cid) GROUP BY qid)
        SELECT qs.qid, coalesce(h.hits, 0)::BIGINT AS hits_at_5,
               coalesce(h.hits, 0) / 5.0 AS recall_at_5
        FROM (SELECT DISTINCT qid FROM q) qs LEFT JOIN h USING (qid)
        ORDER BY qid
    """,
)
def matryoshka_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension truncation audit: recall@5 of top-k
    computed on the FIRST 16 of 64 embedding dims (cosine re-normalized
    on the prefix) against full-dimension top-k. This is the standard
    memory/latency lever for ANN serving — store the prefix, search it,
    rerank survivors at full precision — and this query is the offline
    quality gate a pipeline runs before committing to a truncation
    width. Scale shape: same broadcast-query + single candidate scan as
    knn_bruteforce (both rankings come from one joined pass; no second
    scan), recall join is per-(qid,cid) on tiny top-k sets."""
    # One EVALUATION of the pair frame (round 10: norms are per-ROW
    # columns, the dots computed once), but — round 11, found by the
    # sf100 probe — NOT one window pass: stacking rnf and rnt as two
    # window columns over the same frame forces two FULL sorts of the
    # n×q pairs (84 GB of sort spill at 100×; a rank filter above a
    # single window instead plans WindowGroupLimit, which prunes to
    # top-k per partition BEFORE the exchange). So: persist the scored
    # pairs (evaluated once — the r10 double-eval fix stands), run two
    # group-limited top-5 legs over the cache, and intersect the k-row
    # results with a join.
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("e"),
        F.slice(F.col("embedding").cast("array<double>"), 1, 16).alias("e16"),
    )
    base = _spread(base.select(
        "vec_id", "e", "e16",
        V.norm(F.col("e")).alias("nf"),
        V.norm(F.col("e16")).alias("nt"),
    ))
    q = base.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
        F.col("e16").alias("qe16"),
        F.col("nf").alias("qnf"),
        F.col("nt").alias("qnt"),
    )
    joined = cache.hold(base.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.col("vec_id").alias("cid"),
        (V.dot(F.col("qe"), F.col("e")) / (F.col("qnf") * F.col("nf"))).alias("cf"),
        (V.dot(F.col("qe16"), F.col("e16")) / (F.col("qnt") * F.col("nt"))).alias("ct"),
    ))
    # Round 12: each leg's WindowGroupLimit locally sorted the whole
    # persisted pair frame (the 42 GB residual the r11 probe
    # adjudicated) — above the regime bound the histogram prune sorts
    # only each leg's top band instead, reading the cache twice per leg
    # (operators/topk.grouped_topk; 268 s / 42 GB → 213 s / zero at the
    # 100× probe). In the pruned regime the cache is materialized
    # EAGERLY first: each leg's threshold is a BROADCAST, and building
    # a multi-GB cache inside the first broadcast job would run
    # against spark.sql.broadcastTimeout.
    from bigdata_processing_spark.operators.topk import (
        PRUNE_MIN_ROWS,
        grouped_topk,
    )

    n = table_rows(sf_dir, "embeddings")  # base is a row-preserving select of emb
    n_pairs = n * max(1, n // 100)
    if n_pairs >= PRUNE_MIN_ROWS:
        joined.count()
    topf = grouped_topk(
        joined, 5, "qid", "cf", "cid", n_pairs, rn_col="rnf"
    ).select("qid", "cid")
    topt = grouped_topk(
        joined, 5, "qid", "ct", "cid", n_pairs, rn_col="rnt"
    ).select("qid", "cid")
    hits = (
        topf.join(topt, ["qid", "cid"])  # two 5-row/qid sets
        .groupBy("qid")
        .agg(F.count("*").alias("hits"))
    )
    return (
        q.select("qid").distinct()
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits_at_5"),
            (F.coalesce(F.col("hits"), F.lit(0)) / F.lit(5.0)).alias("recall_at_5"),
        )
        .orderBy("qid")
    )


def _sign_word(e_col: str, lo: int) -> "F.Column":
    """Pack sign bits lo..lo+31 of a double array into one BIGINT word:
    bit (i - lo) set iff e[i] > 0. Pure integer fold — bit-exact across
    engines by construction."""
    return F.expr(
        f"aggregate(transform(sequence({lo}, {lo + 31}),"
        f" i -> IF(element_at({e_col}, i + 1) > CAST(0.0 AS DOUBLE),"
        f" shiftleft(CAST(1 AS BIGINT), i - {lo}), CAST(0 AS BIGINT))),"
        f" CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


# Shared sign-bit Hamming stage: ONE definition of the packing, query
# selection, and popcount scoring serves both the pure binary kNN and
# the binary-prefilter+rerank pipeline — the prefilter audit is only
# meaningful if both run the identical first stage.
_SQL_HAM = """v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        p AS (
            SELECT vec_id,
                   list_sum(list_transform(range(1, 33),
                       i -> CASE WHEN e[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END))::BIGINT AS w0,
                   list_sum(list_transform(range(33, 65),
                       i -> CASE WHEN e[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END))::BIGINT AS w1
            FROM v
        ),
        q AS (SELECT vec_id AS qid, w0 AS qw0, w1 AS qw1 FROM p WHERE vec_id % 100 = 0),
        ham AS (
            SELECT qid, p.vec_id AS cid,
                   (bit_count(xor(qw0, w0)) + bit_count(xor(qw1, w1)))::BIGINT AS hamming
            FROM q JOIN p ON p.vec_id <> qid
        )"""


def _hamming_pairs(emb: DataFrame) -> DataFrame:
    """(qid, cid, hamming) for every query × candidate — the Spark twin
    of _SQL_HAM: sign-bit pack into two 32-bit words, broadcast the
    packed query set, popcount-of-XOR against the streaming candidates."""
    packed = emb.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("e")
    ).select(
        "vec_id",
        _sign_word("e", 0).alias("w0"),
        _sign_word("e", 32).alias("w1"),
    )
    q = packed.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    ham = (
        F.bit_count(F.col("qw0").bitwiseXOR(F.col("w0")))
        + F.bit_count(F.col("qw1").bitwiseXOR(F.col("w1")))
    ).cast("long")
    return packed.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid", F.col("vec_id").alias("cid"), ham.alias("hamming")
    )


@register(
    "binary_quantized_knn",
    oracle=f"""
        WITH {_SQL_HAM}
        SELECT qid, cid, hamming, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY hamming, cid) AS rn
            FROM ham
        ) WHERE rn <= 5
        ORDER BY qid, rn
    """,
)
def binary_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) quantized kNN: each 64-dim float vector becomes
    two 32-bit sign words (32x memory cut vs float32; 8 bytes/vector),
    similarity is Hamming distance = popcount of XOR — integer ops that
    whole-stage codegen compiles to branch-free bit arithmetic. This is
    the modern first-pass ANN filter (binary quantization); production
    reranks the Hamming top-m with full-precision cosine, exactly the
    two-stage shape matryoshka_knn_recall audits. Scale: the packed
    index is tiny enough to broadcast at sizes where the float index
    cannot, and the candidate scan stays one pass, no shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    ham = _hamming_pairs(emb)
    # ascending integer distance → bucket_scale 1 (≤ 65 buckets/qid);
    # the popcount scoring is whole-stage bit arithmetic, cheap enough
    # to evaluate twice, so no persist in the pruned regime
    n = table_rows(sf_dir, "embeddings")  # footer count == emb.count()
    n_pairs = n * max(1, n // 100)
    return (
        grouped_topk(ham, 5, "qid", "hamming", "cid", n_pairs,
                     bucket_scale=1, ascending=True)
        .withColumn("rn", F.col("rn").cast("long"))
        .orderBy("qid", "rn")
    )


@register(
    "embedding_norm_stats",
    oracle="""
        SELECT label,
               count(*) AS n_vecs,
               avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS avg_norm,
               min(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS min_norm,
               max(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS max_norm
        FROM embeddings
        GROUP BY label
        ORDER BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition vector sanity stats (norm distribution by IVF cell)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", V.norm(F.col("embedding")).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.avg("nrm").alias("avg_norm"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
        .orderBy("label")
    )


@register(
    "embedding_drift_by_cell",
    oracle="""
        WITH seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                   embedding::DOUBLE[] AS c
            FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
        ),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        scored AS (
            SELECT v.vec_id, s.cell,
                   list_dot_product(s.c, s.c) - 2 * list_dot_product(v.e, s.c) AS sc
            FROM v CROSS JOIN seeds s
        ),
        assign AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY sc, cell) AS rn
                FROM scored
            ) WHERE rn = 1
        ),
        s AS (
            SELECT cell,
                   sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS ref_n,
                   sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS new_n
            FROM assign GROUP BY cell
        ),
        t AS (SELECT sum(ref_n)::DOUBLE AS rt, sum(new_n)::DOUBLE AS nt FROM s)
        SELECT cell::BIGINT AS cell,
               ref_n::BIGINT AS ref_n,
               new_n::BIGINT AS new_n,
               round(ref_n / rt, 6) AS ref_share,
               round(new_n / nt, 6) AS new_share,
               round(abs(ref_n / rt - new_n / nt), 6) AS share_delta
        FROM s CROSS JOIN t
        ORDER BY cell
    """,
)
def embedding_drift_by_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding distribution-shift monitor: split the corpus into a
    reference slice and a new slice (vec_id parity stands in for the
    before/after batches), assign BOTH to the same frozen seeded cells,
    and compare each cell's share of its slice. Summing share_delta / 2
    gives total-variation distance — the number an ANN-index owner
    watches to decide when append_to_ivf_index's quantizer refit should
    fire (drift means the frozen centroids no longer summarize arriving
    data). One assignment pass, one cell aggregate, totals broadcast
    back; identical pruned shape to the production index build."""
    from bigdata_processing_spark.operators.ivf import seed_centroids, seeded_assign_best

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb, 8)
    assigned = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    ).withColumn("cell", seeded_assign_best(cents).getField("cell"))
    s = assigned.groupBy("cell").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0)).alias("ref_n"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0)).alias("new_n"),
    )
    t = s.agg(
        F.sum("ref_n").cast("double").alias("rt"),
        F.sum("new_n").cast("double").alias("nt"),
    )
    ref_share = F.col("ref_n") / F.col("rt")
    new_share = F.col("new_n") / F.col("nt")
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.col("ref_n").cast("long").alias("ref_n"),
            F.col("new_n").cast("long").alias("new_n"),
            F.round(ref_share, 6).alias("ref_share"),
            F.round(new_share, 6).alias("new_share"),
            F.round(F.abs(ref_share - new_share), 6).alias("share_delta"),
        )
        .orderBy("cell")
    )


@register(
    "binary_rerank_knn",
    oracle=f"""
        WITH {_SQL_HAM},
        shortlist AS (
            SELECT qid, cid FROM (
                SELECT qid, cid,
                       row_number() OVER (PARTITION BY qid ORDER BY hamming, cid) AS hrn
                FROM ham
            ) WHERE hrn <= 32
        ),
        rer AS (
            SELECT s.qid, s.cid,
                   list_dot_product(vq.e, vc.e)
                       / (sqrt(list_dot_product(vq.e, vq.e)) * sqrt(list_dot_product(vc.e, vc.e))) AS cos_sim
            FROM shortlist s
            JOIN v vq ON vq.vec_id = s.qid
            JOIN v vc ON vc.vec_id = s.cid
        )
        SELECT qid, cid, cos_sim, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) AS rn
            FROM rer
        ) WHERE rn <= 5
        ORDER BY qid, rn
    """,
)
def binary_rerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage ANN serving pattern end-to-end: a cheap Hamming
    prefilter over packed sign bits shortlists 32 candidates per query
    (integer popcount over 8 bytes/vector — the stage that scans the
    corpus), then exact cosine reranks only the shortlist to the final
    top-5. At 100 TB the corpus-wide stage touches 32x less memory
    bandwidth than float scoring and the expensive float math runs on
    32 rows per query. Full-precision vectors are fetched for the
    shortlist by vec_id join — at scale, a point-lookup against the
    (tiny) per-query candidate set, with shortlists broadcast."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    ham = _hamming_pairs(emb)
    n = table_rows(sf_dir, "embeddings")  # footer count == emb.count()
    shortlist = grouped_topk(
        ham, 32, "qid", "hamming", "cid", n * max(1, n // 100),
        rn_col="hrn", bucket_scale=1, ascending=True,
    ).select("qid", "cid")
    vq = v.select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"))
    vc = v.select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
    rer = (
        vc.join(F.broadcast(shortlist.join(vq, "qid")), "cid")
        .select(
            "qid",
            "cid",
            (V.dot(F.col("qe"), F.col("ce"))
             / (V.norm(F.col("qe")) * V.norm(F.col("ce")))).alias("cos_sim"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid").asc())
    return (
        rer.withColumn("rn", F.row_number().over(wr).cast("long"))
        .filter(F.col("rn") <= 5)
        .orderBy("qid", "rn")
    )


# ---------------------------------------------------------------------------
# Incremental-index append, relational twin: assignment of a NEW batch of
# vectors against FROZEN centroids plus the drift bookkeeping that
# decides a refit — the exact semantics of the disk operator
# operators/ivf.append_to_ivf_index, made SQL-expressible with the
# seeded quantizer (seed_centroids over the base slice) in place of the
# k-means-refined one. tests/test_ivf.py additionally pins the real
# disk operator to these per-cell counts when given the same frozen
# centroid list, so the driver row verifies the operator's arithmetic,
# not a lookalike.
# ---------------------------------------------------------------------------
APPEND_SPLIT_MOD = 10      # hash-split: ~80% base index, ~20% appended batch
APPEND_SPLIT_BASE = 8
APPEND_K = 16              # frozen quantizer size for the append scenario

_SQL_APPEND_BASE = (
    "('0x' || substr(md5('append|' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT"
    f" % {APPEND_SPLIT_MOD} < {APPEND_SPLIT_BASE}"
)


@register(
    "ivf_append_assignment",
    oracle=f"""
        WITH emb AS (
            SELECT vec_id, embedding::DOUBLE[] AS e,
                   {_SQL_APPEND_BASE} AS is_base
            FROM embeddings
        ),
        seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e AS c
            FROM (SELECT vec_id, e FROM emb WHERE is_base
                  ORDER BY vec_id LIMIT {APPEND_K})
        ),
        scored AS (
            SELECT emb.vec_id, emb.is_base, s.cell,
                   list_dot_product(s.c, s.c) - 2 * list_dot_product(emb.e, s.c) AS sc
            FROM emb CROSS JOIN seeds s
        ),
        assign AS (
            SELECT vec_id, is_base, cell FROM (
                SELECT vec_id, is_base, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY sc, cell) AS rn
                FROM scored
            ) WHERE rn = 1
        ),
        counts AS (
            SELECT cell,
                   sum(CASE WHEN is_base THEN 1 ELSE 0 END)::BIGINT AS n_base_vecs,
                   sum(CASE WHEN is_base THEN 0 ELSE 1 END)::BIGINT AS n_appended_vecs
            FROM assign GROUP BY cell
        ),
        tot AS (
            SELECT sum(CASE WHEN is_base THEN 0 ELSE 1 END)::DOUBLE / count(*) AS af
            FROM emb
        )
        SELECT s.cell::BIGINT AS cell,
               coalesce(c.n_base_vecs, 0)::BIGINT AS n_base_vecs,
               coalesce(c.n_appended_vecs, 0)::BIGINT AS n_appended_vecs,
               round(tot.af, 6) AS appended_fraction,
               tot.af > 0.3 AS refit_triggered
        FROM seeds s LEFT JOIN counts c ON s.cell = c.cell CROSS JOIN tot
        ORDER BY cell
    """,
)
def ivf_append_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-quantizer append scenario: hash-split the corpus into a
    base index (~80%) and an arriving batch (~20%); seed APPEND_K=16
    centroids from the base slice; assign EVERYTHING against those
    frozen centroids; report per-cell base/appended postings plus the
    appended fraction and whether it crosses the refit threshold
    (operators/ivf.REFIT_THRESHOLD).

    Scale shape: identical to the production append path — one
    assignment pass over the new batch (embarrassingly parallel, the
    centroid set is a broadcast-sized literal), counts shuffle only
    (cell, flag) pairs. With an 80/20 split the refit must NOT trigger
    (0.2 < 0.3) — the row pins the decision logic, not just counts."""
    from bigdata_processing_spark.functions import text as T
    from bigdata_processing_spark.operators.ivf import (
        REFIT_THRESHOLD,
        seed_centroids,
        seeded_assign_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        (
            T.hash64(F.col("vec_id").cast("string"), "append") % APPEND_SPLIT_MOD
            < APPEND_SPLIT_BASE
        ).alias("is_base"),
    )
    cents = seed_centroids(emb.filter(F.col("is_base")), APPEND_K, vec_col="e")
    # join-form assigner: bit-equal to the oracle's literal score array
    # with an O(1)-size plan (operators/ivf.seeded_assign_cells)
    assigned = seeded_assign_cells(emb, cents, carry=("is_base",))
    counts = assigned.groupBy("cell").agg(
        F.sum(F.when(F.col("is_base"), 1).otherwise(0)).alias("n_base_vecs"),
        F.sum(F.when(F.col("is_base"), 0).otherwise(1)).alias("n_appended_vecs"),
    )
    tot = emb.agg(
        (
            F.sum(F.when(F.col("is_base"), 0).otherwise(1)).cast("double")
            / F.count("*")
        ).alias("af")
    )
    cells = literal_df(spark, [(i,) for i in range(len(cents))], "cell int")
    return (
        cells.join(counts, "cell", "left")
        .crossJoin(tot)
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.coalesce("n_base_vecs", F.lit(0)).cast("long").alias("n_base_vecs"),
            F.coalesce("n_appended_vecs", F.lit(0))
            .cast("long")
            .alias("n_appended_vecs"),
            F.round("af", 6).alias("appended_fraction"),
            (F.col("af") > REFIT_THRESHOLD).alias("refit_triggered"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance (ADC) search — the
# canonical ANN compression (Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI'11), completing the quantization
# family next to SQ8/int8/binary: split each 64-dim vector into M=8
# 8-dim subvectors, quantize each against a per-subspace codebook of
# K=16 centroids (64 dims → 8 bytes of codes, 32× compression), and
# score queries against the DEQUANTIZED codes (float query vs
# per-subspace centroid dot products, summed in fixed subspace order so
# both engines round identically).
#
# Codebooks are SEEDED (subvector slices of the 16 lowest-id vectors) —
# no k-means iteration — so encode, dequantize, and ADC ranking are all
# bit-reproducible in ANSI SQL; ranking uses the 6-decimal-rounded ADC
# cosine with cid tie-break so float-summation ulps can't flip ranks.
# ---------------------------------------------------------------------------
PQ_M = 8    # subspaces
PQ_SUB = 8  # dims per subspace (8 × 8 = 64)
PQ_K = 16   # centroids per subspace codebook


def _pq_oracle() -> str:
    codes_cols = ", ".join(
        f"max(CASE WHEN m = {m} THEN cell END) AS k{m}" for m in range(PQ_M)
    )
    deq_joins = " ".join(
        f"JOIN cb cb{m} ON cb{m}.m = {m} AND cb{m}.cell = codes.k{m}"
        for m in range(PQ_M)
    )
    deq_cols = ", ".join(f"cb{m}.c AS c{m}" for m in range(PQ_M))
    adc = " + ".join(
        f"list_dot_product(list_slice(q.qe, {PQ_SUB * m + 1}, {PQ_SUB * (m + 1)}), d.c{m})"
        for m in range(PQ_M)
    )
    return f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e
            FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {PQ_K})
        ),
        ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
        cb AS (
            SELECT ms.m, seeds.cell,
                   list_slice(seeds.e, {PQ_SUB} * ms.m + 1, {PQ_SUB} * (ms.m + 1)) AS c
            FROM seeds CROSS JOIN ms
        ),
        sl AS (
            SELECT v.vec_id, ms.m,
                   list_slice(v.e, {PQ_SUB} * ms.m + 1, {PQ_SUB} * (ms.m + 1)) AS sv
            FROM v CROSS JOIN ms
        ),
        assign AS (
            SELECT vec_id, m, cell FROM (
                SELECT sl.vec_id, sl.m, cb.cell,
                       row_number() OVER (
                           PARTITION BY sl.vec_id, sl.m
                           ORDER BY list_dot_product(cb.c, cb.c)
                                    - 2 * list_dot_product(sl.sv, cb.c) ASC,
                                    cb.cell ASC) AS rn
                FROM sl JOIN cb USING (m)
            ) WHERE rn = 1
        ),
        codes AS (SELECT vec_id, {codes_cols} FROM assign GROUP BY vec_id),
        deq AS (SELECT codes.vec_id, {deq_cols} FROM codes {deq_joins}),
        q AS (
            SELECT vec_id AS qid, e AS qe, sqrt(list_dot_product(e, e)) AS qn
            FROM v WHERE vec_id % 100 = 0
        ),
        nr AS (SELECT vec_id, sqrt(list_dot_product(e, e)) AS nrm FROM v),
        sc AS (
            SELECT q.qid, d.vec_id AS cid,
                   round(({adc}) / (q.qn * nr.nrm), 6) AS adc_cos
            FROM q
            JOIN deq d ON d.vec_id <> q.qid
            JOIN nr ON nr.vec_id = d.vec_id
        )
        SELECT qid, cid, adc_cos, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY qid
                                         ORDER BY adc_cos DESC, cid ASC) AS rn
            FROM sc
        )
        WHERE rn <= 5
        ORDER BY qid, rn
    """


@register("pq_adc_knn", oracle=_pq_oracle())
def pq_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-5: every 100th vector queries the PQ-encoded corpus.

    Scale shape: codebooks are M·K tiny literals (1,024 doubles — fixed,
    NOT growing with the corpus); encoding is a single projection per
    vector (argmin over 16 structs per subspace, all JVM fold math); the
    search joins broadcast queries against streaming candidates carrying
    8 small int codes + a true norm. The ADC sum runs subspace-by-
    subspace in fixed order, matching the oracle bit-for-bit before the
    6-decimal rounding that makes ranking ulp-proof."""
    from bigdata_processing_spark.operators.ivf import seed_centroids
    from bigdata_processing_spark.operators.quantization import (
        pq_adc_lut_sql,
        pq_encode,
        pq_lut_expr,
    )

    emb = _spread(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("e"),
            V.norm(F.col("embedding")).alias("nrm"),
        )
    )
    seeds = seed_centroids(emb, PQ_K, vec_col="e")
    if not seeds:
        # empty corpus/partition: no codebook can exist — degrade to an
        # empty result with the contract schema instead of indexing []
        return literal_df(
            spark, [], "qid bigint, cid bigint, adc_cos double, rn bigint"
        )
    codebook = [
        [c[PQ_SUB * m: PQ_SUB * (m + 1)] for c in seeds] for m in range(PQ_M)
    ]
    # shared SQL-string expression builders (operators/quantization):
    # parsed once instead of O(M·K·dim) py4j Column calls — the Column
    # form spent ~6 s per run BUILDING the tree on the driver
    enc = pq_encode(emb, codebook, vec_col="e")
    # The histogram-pruned top-k below evaluates its input TWICE; the
    # expensive half of the subtree is the PQ ENCODE (argmin folds per
    # subspace), not the LUT scoring — persist the encoded candidates
    # (8 small ints + a norm per vector, ~40 B/row at any scale) so both
    # legs re-run only the broadcast join + O(M) lookups. Round 13: the
    # persist + its eager count run ONLY in the pruned regime that
    # double-evaluates (_persist_if_pruned) — below the bound
    # the naive window reads the encode once and the count job plus
    # cache write were pure overhead; the candidate count itself is the
    # parquet footer row count (pq_encode is a row-preserving projection
    # of embeddings).
    n_cand = table_rows(sf_dir, "embeddings")
    n_pairs = n_cand * max(1, n_cand // 100)
    cand = _persist_if_pruned(
        enc.select("vec_id", "nrm", *[f"k{m}" for m in range(PQ_M)]), n_pairs
    )
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    # per-query ADC lookup table (Jégou's distance table): built on the
    # broadcast side, each pair then scores as M array lookups instead
    # of M sub-dim folds — bit-identical terms, oracle untouched
    q = q.withColumn("_adc_lut", pq_lut_expr(codebook))
    joined = cand.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    adc_cos = F.expr(pq_adc_lut_sql(PQ_M))
    scored = joined.select(
        "qid", F.col("vec_id").alias("cid"), adc_cos.alias("adc_cos")
    )
    # Round 12 (VERDICT r11 #2): the naive per-qid window LOCALLY SORTS
    # the full n×q scored frame inside WindowGroupLimit's partial stage
    # (19.6 GB of sort spill at 100×). Above the regime bound the
    # histogram prune keeps a provable superset of the top-5 band and
    # only sorts the survivors — bit-identical ranks
    # (operators/topk.grouped_topk; re-scoring the cheap LUT projection
    # twice beats sorting it once, and the persisted encode makes the
    # second evaluation lookups-only). Below the bound the naive window
    # stays — small frames pay the prune's extra jobs for nothing.
    from bigdata_processing_spark.operators.topk import grouped_topk

    return (
        grouped_topk(scored, 5, "qid", "adc_cos", "cid", n_pairs)
        .withColumn("rn", F.col("rn").cast("long"))
        .orderBy("qid", "rn")
    )

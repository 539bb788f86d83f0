"""End-to-end corpus curation: the composed pipeline a training-data
owner actually runs, chaining the individually-oracled stages into one
job with per-stage accounting:

    exact dedup → near-dup dedup → quality filter → decontamination
    → mixture balancing → emit (parquet, partitioned by source)

Each stage is a lazy DataFrame transformation built from the same
primitives the registered queries verify (fingerprints, connected-
component cluster labels, the len/stopword/punct quality score, trigram
holdout overlap, hash-deterministic per-source sampling), so the
pipeline's semantics are covered by the oracle suite; this module only
adds the composition and the stage ledger.

Scale shape: the corpus streams through; every per-doc decision joins
against a broadcast-sized side (fingerprint removal ids, cluster
labels, holdout trigram vocabulary, per-source keep-fractions). The
only corpus-sized shuffle is the exact-dedup fingerprint groupBy; the
near-dup labels come from the memoized MinHash pipeline.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_processing_spark.catalog import load_table
from bigdata_processing_spark.functions import text as T
from bigdata_processing_spark.operators.regime import bcast_if_rows, bcast_if_small
from bigdata_processing_spark.operators.store import write_batch_marker
from bigdata_processing_spark.queries.dedup import _cluster_labels
from bigdata_processing_spark.sources.writers import literal_df
from bigdata_processing_spark.thresholds import JACCARD_THRESHOLD

QUALITY_MIN = 0.35          # docs scoring below this are dropped
DECONTAM_MIN_SHARED = 3     # trigrams shared with holdout → contaminated


@dataclass
class StageStats:
    stage: str
    docs_in: int
    docs_out: int

    @property
    def removed(self) -> int:
        return self.docs_in - self.docs_out


def _quality_score():
    return (
        0.5 * F.least(F.length("text") / 500.0, F.lit(1.0))
        + 0.3
        * (
            T.stopword_count(F.col("text")).cast("double")
            / F.greatest(T.token_count(F.col("text")), F.lit(1))
        )
        + 0.2
        * (
            1
            - T.punct_count(F.col("text")).cast("double")
            / F.greatest(F.length("text"), F.lit(1))
        )
    )


def curate_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    holdout: DataFrame | None = None,
    quality_min: float = QUALITY_MIN,
    jaccard_threshold: float = JACCARD_THRESHOLD,
    balance_sources: bool = True,
) -> list[StageStats]:
    """Run the full curation chain over ``{sf_dir}/documents`` and write
    the surviving corpus to ``out_path``. Returns the per-stage ledger.

    ``holdout``: optional (doc_id, text) frame of evaluation documents;
    training docs sharing >= DECONTAM_MIN_SHARED distinct trigrams with
    ANY holdout doc are dropped (the decontamination stage is skipped
    when no holdout is given).
    """
    stats: list[StageStats] = []
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()

    # 1. exact dedup: keep the min doc_id per normalized-text fingerprint
    fp = docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
    keep_exact = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id"
    )
    cur = docs.join(keep_exact, "doc_id", "left_semi")
    n2 = cur.count()
    stats.append(StageStats("exact_dedup", n, n2))

    # 2. near-dup dedup: drop non-canonical cluster members (labels are
    # computed on the FULL corpus — a near-dup of an exact-removed doc is
    # still a near-dup of its kept canonical)
    labels = _cluster_labels(spark, sf_dir, jaccard_threshold)
    near_removed = labels.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    # near_removed is O(dup docs) — 30-80% of a web-scale corpus, so the
    # anti-join rides the shared regime switch like its registered twin
    # (queries/dedup.py dedup_survivors), never a forced broadcast
    cur = cur.join(bcast_if_small(near_removed, sf_dir), "doc_id", "left_anti")
    n3 = cur.count()
    stats.append(StageStats("near_dedup", n2, n3))

    # 3. quality floor
    cur = cur.filter(_quality_score() >= quality_min)
    n4 = cur.count()
    stats.append(StageStats("quality_filter", n3, n4))

    # 4. decontamination vs the holdout set (trigram overlap)
    if holdout is not None:
        ho_tri = (
            holdout.select(F.explode(T.word_shingles(F.col("text"), 3)).alias("s"))
            .distinct()
        )
        tri = cur.select(
            "doc_id", F.explode(T.word_shingles(F.col("text"), 3)).alias("s")
        )
        contaminated = (
            tri.join(F.broadcast(ho_tri), "s")
            .groupBy("doc_id")
            # count(*) == countDistinct(s): word_shingles(3) is per-doc
            # distinct and ho_tri is one row per s (r12)
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= DECONTAM_MIN_SHARED)
            .select("doc_id")
        )
        # contaminated grows with the corpus (every doc overlapping the
        # holdout) — regime switch, not a forced broadcast
        cur = cur.join(
            bcast_if_small(contaminated, sf_dir), "doc_id", "left_anti"
        )
    n5 = cur.count()
    stats.append(StageStats("decontamination", n4, n5))

    # 5. mixture balancing: hash-deterministic downsample of every source
    # to the smallest source's count (skippable)
    if balance_sources:
        per_src = cur.groupBy("source").agg(F.count("*").alias("cnt"))
        rows = per_src.collect()  # sources are few — metadata, not data
        if rows:
            target = min(r.cnt for r in rows)
            fracs = {r.source: target / r.cnt for r in rows}
            bucket = F.pmod(
                T.hash64(F.col("doc_id").cast("string"), "curate"), F.lit(1_000_000)
            )
            conds = None
            for src, frac in fracs.items():
                c = (F.col("source") == src) & (bucket < int(frac * 1_000_000))
                conds = c if conds is None else conds | c
            cur = cur.filter(conds)
    n6 = cur.count()
    stats.append(StageStats("mixture_balance", n5, n6))

    # staged swap (same discipline as operators/compaction): write aside,
    # rename in — a crash mid-emit never leaves a half-written corpus at
    # out_path, and a previous emit stays readable until the new one
    # commits. recover with compaction.recover_swap(out_path, ".emitting").
    import os
    import shutil

    from bigdata_processing_spark.operators.compaction import recover_swap

    recover_swap(out_path, ".emitting")  # heal any earlier interrupted emit
    tmp = out_path.rstrip("/") + ".emitting"
    old = out_path.rstrip("/") + ".old"
    cur.write.mode("overwrite").partitionBy("source").parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(out_path):
        os.rename(out_path, old)
    os.rename(tmp, out_path)
    shutil.rmtree(old, ignore_errors=True)
    n_out = spark.read.parquet(out_path).count()
    stats.append(StageStats("emit", n6, n_out))
    return stats


# ---------------------------------------------------------------------------
# Incremental curation (round 6): append a batch of new documents to an
# already-curated corpus touching O(batch + touched index buckets) docs,
# instead of re-running the full O(corpus) chain per batch — the wiring
# the incremental dedup index (operators/incremental_dedup) exists for.
#
# State next to the curated corpus at ``{out}.state/``:
# - ``mh/``                       the persisted MinHash index over the
#   FULL raw corpus (near-dup labels are defined on the full corpus —
#   see the near_dedup stage note above — so removed docs stay indexed),
# - ``fps/batch_id=N/fbucket=K/`` (doc_id, fp) of every raw doc,
#   hash-bucketed by fingerprint so the exact-dup probe partition-prunes
#   to the batch's touched buckets (same layout trick as the mh shingle
#   store; fp-sorted files add row-group min/max skips),
# - ``idmax/batch_id=N/``         max doc_id per ingest batch — the
#   append contract (batch ids strictly above everything indexed, the
#   same contract as incremental_dup_pairs) is asserted cheaply against
#   this tiny ledger instead of trusted blindly.
#
# Batch survivors land in ``{out}.appends/batch_id=N/`` — an overwrite
# of the batch's OWN directory, so replays/crash-retries converge
# (idempotence-based exactly-once, as everywhere else in this repo);
# ``read_curated`` unions the base emit with the committed appends.
#
# Semantics vs full recompute (asserted equal in
# tests/test_curation_append.py, balance off):
# - exact: batch doc dropped iff its fingerprint is already indexed or a
#   lower-id batch doc shares it (ids are ordered, so the full chain's
#   keep-min-doc_id-per-fp reduces to exactly this),
# - near-dup: connected components over the probe's batch-involving
#   verified pairs; a batch doc survives iff it IS its component's
#   minimum (a component containing any indexed doc has an indexed
#   minimum, so every batch member drops — matching the full chain's
#   keep-cluster-min rule). Any path between batch docs through indexed
#   docs starts with a batch-involving pair, which the probe emits, so
#   the restricted component test is exact, with ONE documented
#   exception: a batch doc that BRIDGES two previously-separate indexed
#   clusters cannot retroactively re-canonicalize the immutable old
#   corpus — the full recompute would; that correction happens at the
#   next full run (the standard incremental-dedup approximation),
# - quality / decontamination: per-doc, independent — identical,
# - mixture balancing: inherently GLOBAL (every source's keep-fraction
#   moves with every append), so the append path does not support it;
#   balanced corpora re-balance at full-recompute cadence.
# ---------------------------------------------------------------------------
N_FP_BUCKETS = 64  # legacy fallback: pre-round-7 states without fpmeta


def _fbucket(col, n_buckets: int = N_FP_BUCKETS):
    return F.pmod(F.hash(col), F.lit(n_buckets))


def _fp_bucket_count(spark: SparkSession, out_path: str) -> int:
    """The fingerprint store's bucket modulus — STATE, like the mh
    shingle store's: persisted at build ({state}/fpmeta), read back by
    every append (a mismatched modulus silently mis-prunes). Pre-round-7
    states have no fpmeta and keep the legacy constant. Sizing is the
    same √n policy as the shingle store (floored at the legacy 64), so
    the append prune gate (batch·2 ≤ buckets) fires for realistic
    batches at any corpus size instead of only ≤32-doc ones."""
    import os

    from bigdata_processing_spark.operators.store import read_meta

    if not os.path.exists(f"{_state_path(out_path)}/fpmeta"):
        return N_FP_BUCKETS
    return int(read_meta(spark, _state_path(out_path), table="fpmeta").n_fbuckets)


def _state_path(out_path: str) -> str:
    return out_path.rstrip("/") + ".state"


def _appends_path(out_path: str) -> str:
    return out_path.rstrip("/") + ".appends"


def _mark_batch_committed(spark: SparkSession, out_path: str, batch_id: int) -> None:
    """Write the CURATION-owned commit marker
    ``{state}/committed/batch_id=N`` — the last write of an append, so
    its presence means the batch's survivors AND index folds are all
    live. Curation must own its commit record: the mh index's
    ``counts/batch_id=N`` partitions (the previous marker) are erased
    by the index's own refit, which consolidates every prior batch into
    batch 0 — committed append survivors then silently vanished from
    :func:`read_curated` (the round-7 high-severity advisory).

    On a PRE-round-7 state dir the first marker write must not strand
    the history: once ``{state}/committed`` exists,
    :func:`committed_curation_batches` stops consulting the mh-counts
    fallback. The backfill is CRASH-ATOMIC (round 10, r8 advisory): the
    full marker set is written into a staging dir first and renamed
    into place in one step — writing markers directly into the live dir
    disabled the fallback at the FIRST write, so a crash mid-backfill
    permanently stranded every not-yet-backfilled pre-upgrade batch.
    A stale staging dir from an earlier crash is discarded (the live
    dir still absent means the fallback is still authoritative)."""
    import os
    import shutil

    state = _state_path(out_path)
    cdir = f"{state}/committed"
    if not os.path.exists(cdir):
        staging = f"{state}/committed.backfilling"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        for b in committed_curation_batches(spark, out_path):
            if b == batch_id:
                continue
            write_batch_marker(spark, state, b, table="committed.backfilling")
        os.rename(staging, cdir)  # the one atomic commit point
    write_batch_marker(spark, state, batch_id, table="committed")


def committed_curation_batches(spark: SparkSession, out_path: str) -> set[int]:
    """Batch ids whose curation commit marker is live. Falls back to the
    mh index's counts partitions for pre-round-7 state dirs (correct
    there as long as no refit has run — exactly the old behavior)."""
    import os

    from bigdata_processing_spark.operators.store import (
        committed_batches as _committed,
    )

    if not os.path.exists(f"{_state_path(out_path)}/committed"):
        from bigdata_processing_spark.operators.incremental_dedup import (
            committed_batches,
        )

        return committed_batches(spark, f"{_state_path(out_path)}/mh")
    return _committed(spark, _state_path(out_path), table="committed")


def _write_fp_batch(
    state: str, batch_id: int, docs: DataFrame, n_docs: int | None = None,
    n_fbuckets: int = N_FP_BUCKETS,
) -> None:
    fp = docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
    fp = fp.withColumn("fbucket", _fbucket(F.col("fp"), n_fbuckets))
    # the fbucket shuffle exists to give BIG batches one file per bucket
    # dir; a micro-batch writes fewer rows than buckets, so the shuffle
    # is a pure job of latency — coalesce to one task and let the
    # partitioned write fan its handful of rows into their dirs
    if n_docs is not None and n_docs * 2 <= n_fbuckets:
        fp = fp.coalesce(1).sortWithinPartitions("fp")
    else:
        fp = fp.repartition("fbucket").sortWithinPartitions("fp")
    (
        fp.write.mode("overwrite")
        .partitionBy("fbucket")
        .parquet(f"{state}/fps/batch_id={batch_id}")
    )
    spark = docs.sparkSession
    mx = docs.agg(F.max("doc_id").alias("m")).collect()[0].m
    literal_df(
        spark, [(int(mx) if mx is not None else -1,)], "max_id bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{state}/idmax/batch_id={batch_id}"
    )


def curate_corpus_with_state(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    holdout: DataFrame | None = None,
    quality_min: float = QUALITY_MIN,
    jaccard_threshold: float = JACCARD_THRESHOLD,
    balance_sources: bool = True,
) -> list[StageStats]:
    """:func:`curate_corpus` plus the append state (MinHash index +
    fingerprint store over the FULL raw corpus) so later batches can
    run :func:`curate_append` at O(batch) cost."""
    from bigdata_processing_spark.operators.incremental_dedup import (
        build_minhash_index,
    )

    stats = curate_corpus(
        spark, sf_dir, out_path, holdout=holdout, quality_min=quality_min,
        jaccard_threshold=jaccard_threshold, balance_sources=balance_sources,
    )
    from bigdata_processing_spark.operators.store import (
        bucket_count_policy,
        write_meta,
    )

    docs = load_table(spark, sf_dir, "documents")
    state = _state_path(out_path)
    n_corpus = docs.count()
    build_minhash_index(docs, f"{state}/mh")
    # fp-store modulus: same √n policy as the shingle store
    # (operators/store.bucket_count_policy), floored at the legacy
    # constant; persisted because the modulus is state
    n_fb = max(N_FP_BUCKETS, bucket_count_policy(n_corpus))
    write_meta(spark, state, (n_fb,), "n_fbuckets bigint", table="fpmeta")
    _write_fp_batch(state, 0, docs, n_fbuckets=n_fb)
    import shutil

    shutil.rmtree(_appends_path(out_path), ignore_errors=True)
    shutil.rmtree(f"{state}/committed", ignore_errors=True)
    _mark_batch_committed(spark, out_path, 0)
    return stats


def curate_append(
    spark: SparkSession,
    out_path: str,
    batch_docs: DataFrame,
    holdout: DataFrame | None = None,
    quality_min: float = QUALITY_MIN,
    jaccard_threshold: float = JACCARD_THRESHOLD,
    batch_id: int | None = None,
) -> list[StageStats]:
    """Curate ONE append batch against the state built by
    :func:`curate_corpus_with_state`, writing survivors to
    ``{out}.appends/batch_id=N/`` and folding the batch into the state.

    Touches O(batch + touched buckets): the exact stage reads only the
    fingerprint-store buckets the batch's fps hash into, the near stage
    is the incremental MinHash probe (batch-sized signing, bucket-keyed
    candidates, sbucket-pruned verification), and quality/decontam are
    per-doc over the batch. Nothing rescans indexed text."""
    from bigdata_processing_spark import cache
    from bigdata_processing_spark.operators.graph import connected_components
    from bigdata_processing_spark.operators.incremental_dedup import (
        append_to_minhash_index,
        incremental_dup_pairs,
    )

    state = _state_path(out_path)
    stats: list[StageStats] = []
    if batch_id is None:
        # curation-owned sequence, NOT the mh counts partitions: a refit
        # consolidates mh batches into batch 0, so the mh-derived "next
        # id" would collide with (and overwrite) live append directories
        batch_id = max(committed_curation_batches(spark, out_path) | {0}) + 1
    batch_docs = batch_docs.persist()
    n = batch_docs.count()

    # append contract: batch ids strictly above everything indexed
    # (same contract as incremental_dup_pairs) — asserted against the
    # tiny idmax ledger, excluding this batch's own partition so a
    # replayed batch doesn't fail against its earlier half-append
    idmax = (
        spark.read.parquet(f"{state}/idmax")
        .filter(F.col("batch_id") != batch_id)
        .agg(F.max("max_id"))
        .collect()[0][0]
    )
    bmin = batch_docs.agg(F.min("doc_id")).collect()[0][0]
    if bmin is not None and idmax is not None and bmin <= idmax:
        raise ValueError(
            f"append batch ids must exceed indexed ids (batch min {bmin} "
            f"<= indexed max {idmax}); re-id the batch or run a full recompute"
        )

    # 1. exact dedup vs the fingerprint store (pruned to touched
    # buckets when the batch is small) + keep-min within the batch
    n_fb = _fp_bucket_count(spark, out_path)  # the STORE's modulus
    bfp = batch_docs.select(
        "doc_id", T.fingerprint(F.col("text")).alias("fp")
    ).persist()
    store = spark.read.parquet(f"{state}/fps").filter(
        F.col("batch_id") != batch_id
    )
    if n * 2 <= n_fb:
        buckets = sorted(
            r.b for r in bfp.select(_fbucket(F.col("fp"), n_fb).alias("b"))
            .distinct().collect()
        )
        store = (
            store.filter(F.col("fbucket").isin(buckets))
            if buckets else store.filter(F.lit(False))
        )
    # broadcast the BATCH-sized side, never the store: store fps that
    # appear in the batch (<= batch distinct fps, via a broadcast semi
    # join that scans the store map-side with no shuffle), then the hit
    # set — itself batch-bounded — broadcasts back against the batch.
    # The old form broadcast store.select("fp").distinct() wholesale once
    # the batch exceeded N_FP_BUCKETS/2 docs: a corpus-sized forced
    # broadcast, the same OOM class the dedup regime switch exists for.
    hit_fps = store.select("fp").join(
        F.broadcast(bfp.select("fp").distinct()), "fp", "semi"
    ).distinct()
    indexed_hit = bfp.join(F.broadcast(hit_fps), "fp", "semi").select("doc_id")
    batch_keep_fp = (
        bfp.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    cur = (
        batch_docs.join(batch_keep_fp, "doc_id", "left_semi")
        .join(F.broadcast(indexed_hit), "doc_id", "left_anti")
    )
    n2 = cur.count()
    stats.append(StageStats("exact_dedup", n, n2))

    # 2. near-dup: probe the persisted index (batch never sees its own
    # partitions as "old" on a replay), components over the
    # batch-involving pair graph, survive iff component minimum.
    # The probe sees only the EXACT-SURVIVING batch docs (round 8): an
    # exact-dropped doc needs no near-dup verdict, and its verdicts for
    # OTHERS are never lost because its kept identical twin — the
    # indexed fp hit, or the batch's fp-min — carries the same text,
    # hence the same edges (removed docs stay in the mh index by the
    # module invariant). On a clone-recrawl batch the probe input is
    # EMPTY, collapsing the append to exact + state-fold cost; equality
    # with the full recompute stays test-pinned.
    # persist: connected_components takes two actions over the edge set
    # (size gate + driver collect) — without this each re-runs the
    # probe's verify join (batch-bounded rows, but several jobs of
    # latency per pass; measured ~4s of the micro-batch append wall).
    # The zero-pair fast path (common for clean micro-batches) skips
    # CC and the anti-join outright — the count doubles as the persist
    # materializer either way.
    pairs = incremental_dup_pairs(
        cur, f"{state}/mh", jaccard_threshold=jaccard_threshold,
        exclude_batch_id=batch_id,
    ).persist()
    n_pairs = pairs.count()
    if n_pairs > 0:
        labels, _rounds = connected_components(
            pairs.select("d1", "d2"), src="d1", dst="d2"
        )
        near_removed = (
            cache.hold(labels).toDF("doc_id", "cluster_id")
            .filter(F.col("doc_id") != F.col("cluster_id"))
            .select("doc_id")
        )
        # near_removed ⊆ the pair graph's nodes (≤ 2·n_pairs rows, just
        # counted) — a bulk append's dup-heavy pair graph can outgrow an
        # executor, so gate on the KNOWN count instead of forcing the
        # broadcast
        cur = cur.join(
            bcast_if_rows(near_removed, 2 * n_pairs), "doc_id", "left_anti"
        )
    # held: the three counts and the emit below read this frame once
    # instead of each re-running the probe/anti-join lineage
    cur = cache.hold(cur)
    n3 = cur.count()
    stats.append(StageStats("near_dedup", n2, n3))

    # 3. quality floor (identical per-doc filter)
    cur = cur.filter(_quality_score() >= quality_min)
    n4 = cur.count()
    stats.append(StageStats("quality_filter", n3, n4))

    # 4. decontamination (identical per-doc trigram overlap)
    if holdout is not None:
        ho_tri = (
            holdout.select(F.explode(T.word_shingles(F.col("text"), 3)).alias("s"))
            .distinct()
        )
        tri = cur.select(
            "doc_id", F.explode(T.word_shingles(F.col("text"), 3)).alias("s")
        )
        contaminated = (
            tri.join(F.broadcast(ho_tri), "s")
            .groupBy("doc_id")
            # count(*) == countDistinct(s): word_shingles(3) is per-doc
            # distinct and ho_tri is one row per s (r12)
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= DECONTAM_MIN_SHARED)
            .select("doc_id")
        )
        # contaminated ⊆ this batch's docs (count n, known) — gate on it
        cur = cur.join(
            bcast_if_rows(contaminated, n), "doc_id", "left_anti"
        )
    n5 = cur.count()
    stats.append(StageStats("decontamination", n4, n5))

    # 5. emit survivors — overwrite of this batch's OWN directory
    # (replay-idempotent), THEN fold the raw batch into the state; the
    # CURATION commit marker is written last (after the index fold and
    # any refit inside it), so its presence marks the whole batch
    # (output + state) complete — and, unlike the mh counts partitions,
    # it survives the index refit's batch-0 consolidation
    out_dir = f"{_appends_path(out_path)}/batch_id={batch_id}"
    cur.write.mode("overwrite").parquet(out_dir)
    n_out = spark.read.parquet(out_dir).count()
    stats.append(StageStats("emit", n5, n_out))
    _write_fp_batch(state, batch_id, batch_docs, n_docs=n, n_fbuckets=n_fb)
    append_to_minhash_index(f"{state}/mh", batch_docs, batch_id=batch_id)
    _mark_batch_committed(spark, out_path, batch_id)
    cache.release_held()
    pairs.unpersist()
    bfp.unpersist()
    batch_docs.unpersist()
    return stats


def read_curated(spark: SparkSession, out_path: str) -> DataFrame:
    """The curated corpus = the base emit plus every COMMITTED append
    batch (a batch counts as committed once its curation marker
    ``{state}/committed/batch_id=N`` exists — written last in
    :func:`curate_append`, and refit-proof unlike the mh counts
    partitions it replaced)."""
    import os

    base = spark.read.parquet(out_path)
    ap = _appends_path(out_path)
    if not os.path.exists(ap):
        return base
    committed = committed_curation_batches(spark, out_path)
    appended = (
        spark.read.option("basePath", ap).parquet(ap)
        .filter(F.col("batch_id").isin([b for b in committed if b > 0]))
        .drop("batch_id")
    )
    return base.unionByName(appended)


def shard_curated(
    spark: SparkSession,
    out_path: str,
    shard_dir: str,
    n_shards: int | None = None,
    seed: int = 0,
) -> DataFrame:
    """Final pipeline stage: the curated corpus (base emit + every
    COMMITTED append) sharded deterministically for training loaders
    (operators/sharding.emit_training_shards — seeded hash shuffle, one
    exchange, replay-idempotent shard files). Returns the shard ledger.

    Composes with both flows: after a full recompute it shards the base
    emit; after ``curate_append`` batches it shards base ∪ appends, so
    re-sharding is how appended docs reach the loader stream."""
    from bigdata_processing_spark.operators.sharding import (
        DEFAULT_N_SHARDS,
        emit_training_shards,
    )

    cur = read_curated(spark, out_path)
    return emit_training_shards(
        cur.select("doc_id", "text", "lang", "source"),
        shard_dir,
        id_col="doc_id",
        n_shards=n_shards or DEFAULT_N_SHARDS,
        seed=seed,
    )


def main() -> None:
    """CLI:

    - ``python -m bigdata_processing_spark.pipelines.curation [sf_dir]
      [out_path]`` — full chain (plus append state when ``--with-state``)
    - ``python -m ... append <batch_parquet> [out_path]`` — curate one
      append batch through the incremental state, printing the ledger
      and the O(batch)-vs-corpus accounting.
    - ``python -m ... shard <out_path> <shard_dir> [n_shards]`` — shard
      the curated corpus (base + committed appends) for loaders.
    """
    import json
    import sys
    import time

    from bigdata_processing_spark.session import get_spark

    args = [a for a in sys.argv[1:] if a != "--with-state"]
    with_state = "--with-state" in sys.argv[1:]
    spark = get_spark("curate")
    spark.sparkContext.setLogLevel("ERROR")

    if args and args[0] == "append":
        batch_path = args[1]
        out = args[2] if len(args) > 2 else "/tmp/curated_corpus"
        batch = spark.read.parquet(batch_path)
        from bigdata_processing_spark.operators.incremental_dedup import (
            index_doc_count,
        )

        idx_docs = index_doc_count(spark, f"{_state_path(out)}/mh")
        t0 = time.monotonic()
        sts = curate_append(spark, out, batch)
        for st in sts:
            print(json.dumps({"stage": st.stage, "docs_in": st.docs_in,
                              "docs_out": st.docs_out, "removed": st.removed}))
        print(json.dumps({
            "total_wall_sec": round(time.monotonic() - t0, 2),
            "batch_docs": sts[0].docs_in,
            "index_docs_untouched": idx_docs,
            "out": _appends_path(out),
        }))
        return

    if args and args[0] == "shard":
        out = args[1]
        shard_dir = args[2]
        n_shards = int(args[3]) if len(args) > 3 else None
        t0 = time.monotonic()
        ledger = shard_curated(spark, out, shard_dir, n_shards=n_shards)
        for r in ledger.orderBy("shard").collect():
            print(json.dumps({"shard": r["shard"], "n_docs": r["n_docs"]}))
        print(json.dumps({"total_wall_sec": round(time.monotonic() - t0, 2),
                          "out": shard_dir}))
        return

    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    out = args[1] if len(args) > 1 else "/tmp/curated_corpus"
    t0 = time.monotonic()
    fn = curate_corpus_with_state if with_state else curate_corpus
    for st in fn(spark, sf_dir, out):
        print(json.dumps({"stage": st.stage, "docs_in": st.docs_in,
                          "docs_out": st.docs_out, "removed": st.removed}))
    print(json.dumps({"total_wall_sec": round(time.monotonic() - t0, 2),
                      "out": out}))


if __name__ == "__main__":
    main()

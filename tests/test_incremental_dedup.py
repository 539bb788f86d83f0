"""Incremental batch dedup (operators/incremental_dedup.py): the disk
index must reproduce the registered relational twin row-for-row, appends
must make earlier batches visible to later probes AND be idempotent
under replay/half-written crashes (the partition-overwrite layout), the
drift refit must re-prune the stop list, and the streaming bridge must
deliver cross-batch pairs exactly-once."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from conftest import SF_SMALL

from bigdata_processing_spark.catalog import load_table
from bigdata_processing_spark.operators.incremental_dedup import (
    append_to_minhash_index,
    build_minhash_index,
    committed_batches,
    incremental_dup_pairs,
    index_doc_count,
    run_incremental_dedup_stream,
)
from bigdata_processing_spark.queries.dedup import (
    clear_dedup_memos,
    incremental_dedup_pairs,
)


def test_disk_probe_matches_relational_twin(spark, tmp_path):
    """Index the 3/4 split, probe the 1/4 batch: the disk pipeline and
    the registered twin query must agree on every (d1, d2, jaccard)."""
    docs = load_table(spark, SF_SMALL, "documents")
    idx = os.path.join(str(tmp_path), "mh_index")
    n = build_minhash_index(docs.filter(F.col("doc_id") % 4 != 0), idx)
    assert n == docs.filter(F.col("doc_id") % 4 != 0).count()

    got = {
        (r.d1, r.d2, round(r.jaccard, 9))
        for r in incremental_dup_pairs(
            docs.filter(F.col("doc_id") % 4 == 0), idx
        ).collect()
    }
    clear_dedup_memos()
    want = {
        (r.d1, r.d2, round(r.jaccard, 9))
        for r in incremental_dedup_pairs(spark, SF_SMALL).collect()
    }
    assert got == want
    assert want, "fixture should surface batch-involving near-dups"
    clear_dedup_memos()


def _mini_corpus(spark, texts_by_id):
    return spark.createDataFrame(
        [(i, t, "src") for i, t in texts_by_id.items()],
        "doc_id bigint, text string, source string",
    )


def test_append_makes_batch_visible_to_later_probes(spark, tmp_path):
    """A doc appended in batch B must pair with a near-identical doc
    arriving later in batch C — the cross-batch state is the point.
    B carries NOVEL vocabulary: the frozen stop list must not make it
    invisible (stop list, not allow list)."""
    base = {
        i: f"wholly unrelated document number {i} tokens t{i} u{i*3} v{i*7}"
        for i in range(20)
    }
    b_doc = {100: "the quick brown fox jumps over the lazy dog tonight"}
    c_doc = {200: "the quick brown fox jumps over the lazy dog tonight"}
    idx = os.path.join(str(tmp_path), "mh_index")
    build_minhash_index(_mini_corpus(spark, base), idx)

    # C before B is appended: no partner indexed yet
    before = incremental_dup_pairs(_mini_corpus(spark, c_doc), idx).collect()
    assert [(r.d1, r.d2) for r in before] == []

    n, refit = append_to_minhash_index(idx, _mini_corpus(spark, b_doc))
    assert (n, refit) == (1, False)
    assert committed_batches(spark, idx) == {0, 1}
    after = incremental_dup_pairs(_mini_corpus(spark, c_doc), idx).collect()
    assert [(r.d1, r.d2, r.jaccard) for r in after] == [(100, 200, 1.0)]


def test_shingle_bucket_count_policy():
    """√n sizing with floor/ceiling clamps, mirroring test_ivf's cell
    policy: the partition-prune gate (batch·2 ≤ buckets) must fire for
    realistic micro-batches at any corpus size — a fixed 32 only ever
    pruned for ≤16-doc batches (VERDICT r6 wrong-item #2)."""
    from bigdata_processing_spark.operators.incremental_dedup import (
        shingle_bucket_count,
    )

    assert shingle_bucket_count(0) == 32          # degenerate → floor
    assert shingle_bucket_count(100) == 32        # floor holds tiny corpora
    assert shingle_bucket_count(5_000) == 70      # sqrt regime
    assert shingle_bucket_count(500_000) == 707   # the 100x proof corpus
    assert shingle_bucket_count(10**9) == 4096    # ceiling
    # monotone non-decreasing across the whole range
    prev = 0
    for n in (1, 10, 1_000, 10**4, 10**6, 10**8, 10**10):
        cur = shingle_bucket_count(n)
        assert cur >= prev
        prev = cur
    # a 300-doc batch prunes at 500k docs under the policy (not at 32)
    assert 300 * 2 <= shingle_bucket_count(500_000)
    assert 300 * 2 > 32


def test_probe_and_append_use_store_bucket_count(spark, tmp_path):
    """The bucket modulus is STATE: an index built with a non-default
    count must be probed and appended with ITS modulus (read from meta)
    — a mismatch would prune the wrong directories and silently miss
    pairs. The refit then re-derives the policy count for the grown
    corpus."""
    from bigdata_processing_spark.operators.incremental_dedup import (
        _store_n_sbuckets,
    )

    base = {i: f"wholly unrelated document number {i} tokens t{i} u{i*3}"
            for i in range(20)}
    idx = os.path.join(str(tmp_path), "mh_index")
    build_minhash_index(_mini_corpus(spark, base), idx, n_sbuckets=8)
    assert _store_n_sbuckets(spark, idx) == 8
    import glob

    dirs = glob.glob(os.path.join(idx, "shingles", "batch_id=0", "sbucket=*"))
    assert 0 < len(dirs) <= 8

    b_doc = {100: "the quick brown fox jumps over the lazy dog tonight"}
    append_to_minhash_index(idx, _mini_corpus(spark, b_doc))
    assert _store_n_sbuckets(spark, idx) == 8  # append kept the modulus
    got = incremental_dup_pairs(
        _mini_corpus(spark, {200: b_doc[100]}), idx
    ).collect()
    assert [(r.d1, r.d2, r.jaccard) for r in got] == [(100, 200, 1.0)]

    # refit re-derives the policy count (21 docs → floor 32)
    big = {300 + i: f"refit filler doc {i} gamma{i} delta{i*5}"
           for i in range(25)}
    append_to_minhash_index(idx, _mini_corpus(spark, big), refit_threshold=0.3)
    _n, refit = append_to_minhash_index(
        idx, _mini_corpus(spark, {900: "trailing doc omega sigma tau"}),
        refit_threshold=0.3,
    )
    assert refit is True
    assert _store_n_sbuckets(spark, idx) == 32
    got = incremental_dup_pairs(
        _mini_corpus(spark, {901: b_doc[100]}), idx
    ).collect()
    assert [(r.d1, r.d2, r.jaccard) for r in got] == [(100, 901, 1.0)]


def _flatten_to_legacy_layout(spark, idx):
    """Rewrite the store's shingle batches to the pre-round-6 FLAT
    layout (no sbucket sub-partition) and drop the round-7 signature
    store — the on-disk shape an index built by round-5 code still has."""
    import glob

    for d in glob.glob(os.path.join(idx, "shingles", "batch_id=*")):
        flat = spark.read.parquet(d).select("doc_id", "sh").collect()
        shutil.rmtree(d)
        spark.createDataFrame(
            flat, "doc_id bigint, sh array<string>"
        ).coalesce(1).sortWithinPartitions("doc_id").write.parquet(d)
    shutil.rmtree(os.path.join(idx, "sigs"), ignore_errors=True)


def test_append_to_legacy_flat_store_stays_readable(spark, tmp_path):
    """Round-7 medium advisory: appending a round-6-style sbucket batch
    next to a pre-round-6 FLAT shingle batch made the mixed directory
    unreadable (CONFLICTING_PARTITION_COLUMN_NAMES), bricking every
    later probe and refit. Appends must detect the legacy layout and
    keep writing flat; the next refit upgrades the whole store."""
    from bigdata_processing_spark.operators.incremental_dedup import (
        _store_uses_sbucket,
    )

    base = {i: f"wholly unrelated document number {i} tokens t{i} u{i*3}"
            for i in range(20)}
    idx = os.path.join(str(tmp_path), "mh_index")
    build_minhash_index(_mini_corpus(spark, base), idx)
    _flatten_to_legacy_layout(spark, idx)
    assert not _store_uses_sbucket(idx)

    b_doc = {100: "the quick brown fox jumps over the lazy dog tonight"}
    n, refit = append_to_minhash_index(idx, _mini_corpus(spark, b_doc))
    assert (n, refit) == (1, False)
    # the mixed-layout failure mode: this read is what used to explode
    sh = spark.read.parquet(os.path.join(idx, "shingles"))
    assert "sbucket" not in sh.columns
    assert sh.select("doc_id").distinct().count() == 21

    # probes against the legacy store still work (flat-scan fallback)
    c_doc = {200: "the quick brown fox jumps over the lazy dog tonight"}
    got = incremental_dup_pairs(_mini_corpus(spark, c_doc), idx).collect()
    assert [(r.d1, r.d2, r.jaccard) for r in got] == [(100, 200, 1.0)]

    # a refit rebuilds the store as batch 0 in the NEW layout — the
    # upgrade point — and later appends then write sbucket batches
    big = {300 + i: f"post upgrade doc {i} gamma{i} delta{i*5}" for i in range(25)}
    append_to_minhash_index(idx, _mini_corpus(spark, big), refit_threshold=0.3)
    tiny = {900: "trailing doc omega sigma tau"}
    _n, refit = append_to_minhash_index(
        idx, _mini_corpus(spark, tiny), refit_threshold=0.3
    )
    assert refit is True
    assert _store_uses_sbucket(idx)
    sh = spark.read.parquet(os.path.join(idx, "shingles"))
    assert "sbucket" in sh.columns
    got = incremental_dup_pairs(_mini_corpus(spark, c_doc), idx).collect()
    assert [(r.d1, r.d2, r.jaccard) for r in got] == [(100, 200, 1.0)]


def test_refit_reprunes_stop_list(spark, tmp_path):
    """Crossing refit_threshold rebuilds the index with a fresh DF prune
    at the START of the NEXT append (refit folds only checkpoint-safe
    batches — see test_replay_after_refit_window below): the fit marker
    resets over the folded corpus and the index still answers probes."""
    base = {i: f"distinct base doc {i} alpha{i} beta{i*3}" for i in range(10)}
    big = {100 + i: f"distinct new doc {i} gamma{i} delta{i*5}" for i in range(15)}
    idx = os.path.join(str(tmp_path), "mh_index")
    build_minhash_index(_mini_corpus(spark, base), idx)
    n, refit = append_to_minhash_index(
        idx, _mini_corpus(spark, big), refit_threshold=0.5
    )
    assert (n, refit) == (15, False)  # drift crossed, refit deferred
    assert index_doc_count(spark, idx) == 25

    tiny = {900: "trailing doc omega sigma tau"}
    n, refit = append_to_minhash_index(
        idx, _mini_corpus(spark, tiny), refit_threshold=0.5
    )
    assert (n, refit) == (1, True)  # the deferred refit fires here
    assert index_doc_count(spark, idx) == 26
    assert spark.read.parquet(os.path.join(idx, "meta")).collect()[0].n_fit == 25
    # batches 0+1 consolidated into 0; the triggering batch keeps its own
    assert committed_batches(spark, idx) == {0, 2}
    probe = {300: "distinct new doc 3 gamma3 delta15"}  # clone of id 103
    got = incremental_dup_pairs(_mini_corpus(spark, probe), idx).collect()
    assert [(r.d1, r.d2, r.jaccard) for r in got] == [(103, 300, 1.0)]


def test_replay_after_refit_window(spark, tmp_path):
    """The refit-at-start ordering closes the duplication window: a
    batch whose append previously triggered an immediate fold-into-batch-0
    could be redelivered by foreachBatch (crash before the checkpoint
    commit) and rewritten BESIDE its consolidated copy — duplicated
    postings/shingles, inflated doc count, doubled probe pairs. Now the
    batch always keeps its own partition until a LATER append folds it,
    so replaying it (any number of times) converges byte-identically."""
    base = {i: f"window base doc {i} aa{i} bb{i*3}" for i in range(10)}
    big = {100 + i: f"window new doc {i} cc{i} dd{i*5}" for i in range(15)}
    idx = os.path.join(str(tmp_path), "mh_index")
    build_minhash_index(_mini_corpus(spark, base), idx)
    batch = _mini_corpus(spark, big)

    append_to_minhash_index(idx, batch, batch_id=1, refit_threshold=0.5)
    postings_once = spark.read.parquet(f"{idx}/postings").count()
    assert committed_batches(spark, idx) == {0, 1}  # NOT folded yet

    # redelivery of batch 1 (crash before the stream checkpoint commit):
    # same drift check over the same <1 corpus, own-partition overwrite
    append_to_minhash_index(idx, batch, batch_id=1, refit_threshold=0.5)
    assert spark.read.parquet(f"{idx}/postings").count() == postings_once
    assert index_doc_count(spark, idx) == 25

    # the NEXT batch folds 0+1 (both now checkpoint-committed) and the
    # probe finds cross-batch partners through the consolidated index
    append_to_minhash_index(
        idx, _mini_corpus(spark, {900: "closing doc ee ff gg"}),
        batch_id=2, refit_threshold=0.5,
    )
    assert committed_batches(spark, idx) == {0, 2}
    assert index_doc_count(spark, idx) == 26
    got = incremental_dup_pairs(
        _mini_corpus(spark, {300: "window new doc 3 cc3 dd15"}), idx
    ).collect()
    assert [(r.d1, r.d2, r.jaccard) for r in got] == [(103, 300, 1.0)]


def test_append_replay_and_half_write_converge(spark, tmp_path):
    """The partition-overwrite layout makes appends idempotent: a full
    replay of the same batch_id, and a replay after a crash that left
    only SOME of the batch's partitions written, both converge to the
    single-copy state (no double-append, cap counts correct)."""
    base = {i: f"replay test doc {i} w{i} x{i*2} y{i*3}" for i in range(8)}
    idx = os.path.join(str(tmp_path), "mh_index")
    build_minhash_index(_mini_corpus(spark, base), idx)
    batch = _mini_corpus(spark, {500: "replay test doc 3 w3 x6 y9"})

    append_to_minhash_index(idx, batch, batch_id=1)
    postings_once = spark.read.parquet(f"{idx}/postings").count()

    # full replay of the same batch_id: byte-identical state, no growth
    append_to_minhash_index(idx, batch, batch_id=1)
    assert spark.read.parquet(f"{idx}/postings").count() == postings_once
    assert index_doc_count(spark, idx) == 9

    # crash half-way: counts+shingles of the batch lost, postings kept
    shutil.rmtree(f"{idx}/counts/batch_id=1")
    shutil.rmtree(f"{idx}/shingles/batch_id=1")
    assert committed_batches(spark, idx) == {0}  # marker gone -> uncommitted
    append_to_minhash_index(idx, batch, batch_id=1)  # replay heals
    assert spark.read.parquet(f"{idx}/postings").count() == postings_once
    assert committed_batches(spark, idx) == {0, 1}
    got = incremental_dup_pairs(
        _mini_corpus(spark, {600: "replay test doc 3 w3 x6 y9"}), idx
    ).collect()
    # 600 is an exact clone of indexed 3 and 500: the round-8 signature
    # short-circuit anchors it to the MIN-id match only (one pair — the
    # edge the component-min rule needs), skipping band expansion
    assert {(r.d1, r.d2) for r in got} == {(3, 600)}


def test_streaming_bridge_exactly_once_pairs(spark, tmp_path):
    """Two arrival waves through run_incremental_dedup_stream: wave-1
    finds its within-batch pair, wave-2 finds its cross-batch partner
    from wave 1, the index ends holding every batch, and re-running the
    wave-2 step (simulated redelivery) leaves pairs byte-identical —
    the probe excludes the batch's own id so post-append replays agree."""
    base = {i: f"stream base doc {i} p{i} q{i*2} r{i*3}" for i in range(10)}
    idx = os.path.join(str(tmp_path), "mh_index")
    pairs = os.path.join(str(tmp_path), "pairs")
    build_minhash_index(_mini_corpus(spark, base), idx)

    w0 = {100: "streaming wave copy alpha beta gamma delta epsilon",
          101: "streaming wave copy alpha beta gamma delta epsilon"}
    w1 = {200: "streaming wave copy alpha beta gamma delta epsilon"}
    stage = os.path.join(str(tmp_path), "arrivals")
    _mini_corpus(spark, w0).coalesce(1).write.parquet(os.path.join(stage, "w0"))
    _mini_corpus(spark, w1).coalesce(1).write.parquet(os.path.join(stage, "w1"))

    stream = (
        spark.readStream.schema("doc_id bigint, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )
    q = run_incremental_dedup_stream(
        stream, idx, pairs,
        checkpoint=os.path.join(str(tmp_path), "ckpt"),
    )
    q.awaitTermination()

    got = {
        (r.d1, r.d2)
        for r in spark.read.parquet(pairs).select("d1", "d2").collect()
    }
    # the two waves may land as one or two micro-batches; either way the
    # within-wave pair and (if split) the cross-batch pair must be found.
    # 200 is an exact clone of indexed 100 and 101: if the waves split,
    # the round-8 signature short-circuit anchors it to the MIN-id match
    # (100) only — (101, 200) is intentionally absent, 200 still joins
    # the family's component through 100
    assert (100, 101) in got
    assert (100, 200) in got
    assert index_doc_count(spark, idx) == 13

    # simulated redelivery of the LAST batch after its append: identical
    last_bid = max(committed_batches(spark, idx))
    before = sorted(
        tuple(r) for r in spark.read.parquet(pairs).collect()
    )
    from bigdata_processing_spark.operators.incremental_dedup import (
        incremental_dup_pairs as probe,
    )
    last_docs = (
        spark.read.parquet(f"{idx}/shingles/batch_id={last_bid}")
        .select("doc_id").collect()
    )
    redelivered = _mini_corpus(
        spark, {r.doc_id: (w0 | w1)[r.doc_id] for r in last_docs}
    )
    p = probe(redelivered, idx, exclude_batch_id=last_bid)
    p.write.mode("overwrite").parquet(f"{pairs}/batch_id={last_bid}")
    append_to_minhash_index(idx, redelivered, batch_id=last_bid)
    after = sorted(tuple(r) for r in spark.read.parquet(pairs).collect())
    assert after == before
    assert index_doc_count(spark, idx) == 13


def test_edge_cases_empty_and_boilerplate_batches(spark, tmp_path):
    """Empty probe batches return empty; a batch made ENTIRELY of
    boilerplate (every shingle on the stop list) is unprobeable by
    design — no signature, no buckets, empty result — but still appends
    cleanly (its shingles are kept for future verification); an empty
    index accepts appends without dividing by zero in the refit check."""
    hot = "the common template " * 5
    base = {i: hot for i in range(30)} | {
        100 + i: f"rare doc {i} zz{i} yy{i*3}" for i in range(5)
    }
    idx = os.path.join(str(tmp_path), "mh_index")
    build_minhash_index(_mini_corpus(spark, base), idx, max_df=10)

    # empty batch
    empty = _mini_corpus(spark, {})
    assert incremental_dup_pairs(empty, idx).count() == 0
    n, refit = append_to_minhash_index(idx, empty, batch_id=1)
    assert (n, refit) == (0, False)

    # all-boilerplate batch: stop-listed shingles only -> unprobeable
    boiler = _mini_corpus(spark, {500: hot})
    assert incremental_dup_pairs(boiler, idx).count() == 0
    n, refit = append_to_minhash_index(idx, boiler, batch_id=2)
    assert n == 1 and not refit

    # empty index: build on zero docs, append without ZeroDivisionError
    idx0 = os.path.join(str(tmp_path), "mh_empty")
    assert build_minhash_index(_mini_corpus(spark, {}), idx0) == 0
    n, refit = append_to_minhash_index(idx0, empty, batch_id=1)
    assert (n, refit) == (0, False)


def test_streaming_bridge_crash_midbatch_replay_converges(spark, tmp_path):
    """End-to-end crash soak (VERDICT r05 #8): a sink killed BETWEEN a
    micro-batch's partition writes leaves stale partials — pairs and
    postings/bucket_sizes written, shingles/counts missing, streaming
    checkpoint NOT committed. Restarting the stream from the same
    checkpoint must replay the batch, overwrite every stale partial, and
    land byte-identically to a never-crashed run: the counts-last
    completion marker + overwrite-own-partition idempotence, proven
    through the bridge rather than at operator level."""
    base = {i: f"soak base doc {i} m{i} n{i*2} o{i*3}" for i in range(10)}
    w0 = {100: "soak wave copy zeta eta theta iota kappa"}
    w1 = {200: "soak wave copy zeta eta theta iota kappa",
          201: "soak wave copy zeta eta theta iota kappa"}
    schema = "doc_id bigint, text string, source string"

    def run_setup(root, crash: bool):
        idx = os.path.join(root, "mh_index")
        pairs = os.path.join(root, "pairs")
        stage = os.path.join(root, "arrivals")
        ckpt = os.path.join(root, "ckpt")
        build_minhash_index(_mini_corpus(spark, base), idx)
        _mini_corpus(spark, w0).coalesce(1).write.parquet(
            os.path.join(stage, "w0")
        )
        q = run_incremental_dedup_stream(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true").parquet(stage),
            idx, pairs, checkpoint=ckpt,
        )
        q.awaitTermination()
        assert committed_batches(spark, idx) == {0, 1}

        # wave 1 arrives; emulate a sink crash that got PART-way through
        # bid 2's writes before the checkpoint committed
        _mini_corpus(spark, w1).coalesce(1).write.parquet(
            os.path.join(stage, "w1")
        )
        if crash:
            half = _mini_corpus(spark, {200: w1[200]})  # one of two docs
            p = incremental_dup_pairs(half, idx, exclude_batch_id=2)
            # stale pairs partial: half the batch's pair set
            p.write.mode("overwrite").parquet(f"{pairs}/batch_id=2")
            # stale postings/bucket_sizes partials, no shingles, no counts
            from bigdata_processing_spark.cache import release_held
            from bigdata_processing_spark.operators.incremental_dedup import (
                _band_keys_col,
                _shingled,
                _sign_excluding,
            )
            stop = spark.read.parquet(f"{idx}/stoplist")
            shex = _shingled(half, "text").select(
                "doc_id", F.explode("sh").alias("s")
            )
            post = _sign_excluding(shex, stop).select(
                "doc_id", F.explode(_band_keys_col()).alias("bk")
            ).select("bk", "doc_id")
            post.write.mode("overwrite").parquet(f"{idx}/postings/batch_id=2")
            post.groupBy("bk").agg(F.count("*").alias("n")).write.mode(
                "overwrite"
            ).parquet(f"{idx}/bucket_sizes/batch_id=2")
            release_held()
            assert committed_batches(spark, idx) == {0, 1}  # marker absent

        # (re)start the stream from the same checkpoint: processes w1,
        # for the crashed run as a REPLAY over the stale partials
        q = run_incremental_dedup_stream(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true").parquet(stage),
            idx, pairs, checkpoint=ckpt,
        )
        q.awaitTermination()
        return idx, pairs

    crash_root = os.path.join(str(tmp_path), "crashed")
    clean_root = os.path.join(str(tmp_path), "clean")
    os.makedirs(crash_root)
    os.makedirs(clean_root)
    idx_c, pairs_c = run_setup(crash_root, crash=True)
    idx_n, pairs_n = run_setup(clean_root, crash=False)

    def state(idx, pairs):
        return (
            sorted(tuple(r) for r in spark.read.parquet(pairs).select(
                "d1", "d2", "batch_id").collect()),
            sorted(tuple(r) for r in spark.read.parquet(
                f"{idx}/postings").select("bk", "doc_id", "batch_id").collect()),
            sorted(tuple(r) for r in spark.read.parquet(
                f"{idx}/shingles").select("doc_id", "batch_id").collect()),
            committed_batches(spark, idx),
            index_doc_count(spark, idx),
        )

    assert state(idx_c, pairs_c) == state(idx_n, pairs_n)
    # and the converged state is the RIGHT one: both arriving clones
    # anchor to their indexed twin (round-8 signature short-circuit —
    # min-id match only, so (200, 201) rides the component through 100
    # instead of being emitted as its own edge)
    got = {
        (r.d1, r.d2)
        for r in spark.read.parquet(pairs_c).select("d1", "d2").collect()
    }
    assert {(100, 200), (100, 201)} <= got
    assert (200, 201) not in got


def test_probe_into_overcap_family_uses_representative_stars(spark, tmp_path):
    """A batch arriving into a near-dup family LARGER than MAX_BUCKET
    must still probe pairs — over-cap buckets pair members against
    ceil(B/MAX_BUCKET) md5-ordered representatives (operators/skew),
    matching the batch family's round-6 geometry. Before this fix the
    probe skipped over-cap buckets whole and returned ZERO pairs
    (measured at the 100x clone corpus: 0 pairs from 50k probe docs)."""
    from bigdata_processing_spark.thresholds import MAX_BUCKET

    fam = "template family text alpha beta gamma delta epsilon zeta eta"
    n_fam = MAX_BUCKET + 15  # every band bucket of the family is over cap
    base = {i: fam for i in range(n_fam)}
    base.update({1000 + i: f"filler doc {i} aa{i} bb{i*3} cc{i*7}"
                 for i in range(10)})
    idx = os.path.join(str(tmp_path), "mh_index")
    build_minhash_index(_mini_corpus(spark, base), idx)

    batch = _mini_corpus(spark, {5000: fam, 5001: fam})
    pairs = incremental_dup_pairs(batch, idx)
    rows = pairs.collect()
    got = {(r.d1, r.d2) for r in rows}
    assert got, "over-cap family probe returned zero pairs"
    # every pair involves the batch and verifies at full similarity
    assert all(r.d2 >= 5000 or r.d1 >= 5000 for r in rows)
    assert all(r.jaccard == 1.0 for r in rows)
    # both batch docs are connected to the family (star recoverability)
    touched = {d for p in got for d in p}
    assert 5000 in touched and 5001 in touched
    assert any(d < n_fam for d in touched), "no link back to indexed family"
    # bounded: far fewer pairs than the quadratic 2·(n_fam+2) expansion
    import math
    n_reps = math.ceil((n_fam + 2) / MAX_BUCKET)
    assert len(got) <= 4 * (n_reps + 1) * 2 + n_fam  # loose star bound
    from bigdata_processing_spark.cache import release_held
    release_held()


def test_legacy_store_probe_with_only_batch_excluded(spark, tmp_path):
    """Round-8 advisory (low): on a SIG-LESS legacy store probed with
    its only batch excluded, the prefilter gate `live <= sigs_batches`
    was vacuously true (empty ⊆ anything) and the sigs/ read threw on a
    directory that never existed. The gate must also require the sigs
    store to exist; the probe then runs prefilter-free and still finds
    the new×new pairs."""
    base = {i: f"wholly unrelated document number {i} tokens t{i} u{i*3}"
            for i in range(20)}
    idx = os.path.join(str(tmp_path), "mh_index")
    build_minhash_index(_mini_corpus(spark, base), idx)
    _flatten_to_legacy_layout(spark, idx)  # pre-round-7: no sigs/

    twins = {
        100: "the quick brown fox jumps over the lazy dog tonight",
        101: "the quick brown fox jumps over the lazy dog tonight",
    }
    got = incremental_dup_pairs(
        _mini_corpus(spark, twins), idx, exclude_batch_id=0
    ).collect()
    assert [(r.d1, r.d2, r.jaccard) for r in got] == [(100, 101, 1.0)]


def test_exact_clone_short_circuits_but_mutated_doc_reaches_stars(spark, tmp_path):
    """Round-8 signature short-circuit, both sides of the contract: a
    batch doc whose FULL signature equals an indexed doc's anchors to
    the MIN-id match (exactly one pair, no star expansion), while a
    MUTATED near-dup — signature differs in ≥1 component — still runs
    the band/representative-star path against the over-cap family."""
    from bigdata_processing_spark.thresholds import MAX_BUCKET

    fam = "template family " + " ".join(f"tok{i}" for i in range(30))
    mut = fam + " mut6x0"  # shifts ≥1 minhash component; J = 31/32
    n_fam = MAX_BUCKET + 15  # every family band bucket is over cap
    base = {i: fam for i in range(n_fam)}
    base.update({1000 + i: f"filler doc {i} aa{i} bb{i*3} cc{i*7}"
                 for i in range(10)})
    idx = os.path.join(str(tmp_path), "mh_index")
    build_minhash_index(_mini_corpus(spark, base), idx)

    rows = incremental_dup_pairs(
        _mini_corpus(spark, {5000: fam, 5001: mut}), idx
    ).collect()
    clone_pairs = [(r.d1, r.d2, r.jaccard) for r in rows if 5000 in (r.d1, r.d2)]
    mut_pairs = [(r.d1, r.d2, r.jaccard) for r in rows if 5001 in (r.d1, r.d2)]
    # exact clone: ONE directly-emitted pair against the min-id member
    assert clone_pairs == [(0, 5000, 1.0)]
    # mutated doc: star-path pairs against the over-cap family. md5
    # rep order makes 5001 itself a representative here, so it anchors
    # the whole bucket (B-1 pairs) — still the star bound, and >1 pair
    # proves it did NOT take the short-circuit
    assert len(mut_pairs) > 1, "mutated near-dup must reach the star path"
    assert all(d1 < n_fam for d1, _d2, _j in mut_pairs)
    assert all(abs(j - 31 / 32) < 1e-9 for _d1, _d2, j in mut_pairs)
    assert len(mut_pairs) <= n_fam + 1
    from bigdata_processing_spark.cache import release_held
    release_held()


def test_measure_agree_min_tunes_down_on_lossy_corpus(spark):
    """The build-time prefilter tuner (round 9): on a corpus where a
    TRUE pair (exact J >= threshold) agrees on fewer than the static
    est_agree_min components, the measured bound drops to the largest
    lossless value; on a clean corpus it returns the static bound."""
    from bigdata_processing_spark.operators.incremental_dedup import (
        measure_agree_min,
    )
    from bigdata_processing_spark.thresholds import EST_AGREE_MIN

    # docs 1/2: J = 9/11 ≈ 0.818 ≥ 0.8 but signatures agree on only 3
    # components (h0, h1 — one shared band, so they ARE LSH candidates —
    # plus h2); docs 3/4: exact clones (agree 8).
    sh12 = [f"s{i}" for i in range(10)]
    shset = spark.createDataFrame(
        [
            (1, sh12),
            (2, sh12[:9] + ["zz"]),
            (3, ["a", "b", "c"]),
            (4, ["a", "b", "c"]),
        ],
        "doc_id bigint, sh array<string>",
    )
    sig = spark.createDataFrame(
        [
            (1, 1, 2, 3, 4, 5, 6, 7, 8),
            (2, 1, 2, 3, 40, 50, 60, 70, 80),
            (3, 9, 9, 9, 9, 9, 9, 9, 9),
            (4, 9, 9, 9, 9, 9, 9, 9, 9),
        ],
        "doc_id bigint, " + ", ".join(f"h{i} bigint" for i in range(8)),
    )
    assert measure_agree_min(shset, sig, n_docs=4) == 3

    # clean corpus: only the exact-clone pair → static bound preserved
    assert (
        measure_agree_min(
            shset.filter("doc_id >= 3"), sig.filter("doc_id >= 3"), n_docs=2
        )
        == EST_AGREE_MIN
    )

    # no true pairs at all → nothing measurable, static bound
    assert (
        measure_agree_min(
            shset.filter("doc_id = 1"), sig.filter("doc_id = 1"), n_docs=1
        )
        == EST_AGREE_MIN
    )


def test_probe_reads_tuned_agree_min_from_meta(spark, tmp_path):
    """Meta-is-state: the probe's signature prefilter bound comes from
    the store's meta row, not the static formula. Pin it by rewriting
    meta: bound 8 (full agreement) must kill a mutated near-dup pair at
    the prefilter; bound 0 must let it through to the exact verify."""
    from bigdata_processing_spark.operators.incremental_dedup import (
        _shingled,
        _sign_excluding,
    )
    from bigdata_processing_spark.operators.store import read_meta, write_meta
    from bigdata_processing_spark.thresholds import EST_AGREE_MIN

    words = " ".join(f"tok{i}" for i in range(40))
    base = {i: f"distinct base doc {i} alpha{i} beta{i*3}" for i in range(8)}
    base[50] = words
    batch = {900: words.replace("tok7 ", "tok7x ", 1)}  # mutated near-dup
    idx = os.path.join(str(tmp_path), "mh_index")
    build_minhash_index(_mini_corpus(spark, base), idx)

    meta = read_meta(spark, idx)
    assert meta.agree_min == EST_AGREE_MIN  # clean corpus: static bound
    assert abs(meta.fit_threshold - 0.8) < 1e-9

    # precondition: the planted pair is a true near-dup whose signatures
    # agree on >= static but < all components (else the test can't
    # discriminate the two meta bounds)
    sigs = dict()
    for who, d in (("idx", {50: base[50]}), ("new", batch)):
        shex = _shingled(_mini_corpus(spark, d), "text").select(
            "doc_id", F.explode("sh").alias("s")
        )
        stop = spark.read.parquet(f"{idx}/stoplist")
        sigs[who] = _sign_excluding(shex, stop).collect()[0]
    agree = sum(
        1 for i in range(8) if sigs["idx"][f"h{i}"] == sigs["new"][f"h{i}"]
    )
    assert EST_AGREE_MIN <= agree < 8, f"fixture drifted: agree={agree}"

    schema = "n_fit bigint, n_sbuckets bigint, agree_min bigint, fit_threshold double"

    def pairs_with_bound(bound):
        write_meta(
            spark, idx,
            (meta.n_fit, meta.n_sbuckets, bound, meta.fit_threshold), schema,
        )
        return {
            (r.d1, r.d2)
            for r in incremental_dup_pairs(_mini_corpus(spark, batch), idx).collect()
        }

    assert (50, 900) in pairs_with_bound(0)
    assert (50, 900) not in pairs_with_bound(8)


def test_refit_retunes_agree_min(spark, tmp_path, monkeypatch):
    """The drift refit re-measures the prefilter bound over the grown
    corpus and persists it — wiring pinned via a sentinel measurement."""
    from bigdata_processing_spark.operators import incremental_dedup as mod
    from bigdata_processing_spark.operators.store import read_meta

    base = {i: f"distinct base doc {i} alpha{i} beta{i*3}" for i in range(10)}
    big = {100 + i: f"distinct new doc {i} gamma{i} delta{i*5}" for i in range(15)}
    idx = os.path.join(str(tmp_path), "mh_index")
    build_minhash_index(_mini_corpus(spark, base), idx)
    append_to_minhash_index(idx, _mini_corpus(spark, big), refit_threshold=0.5)

    monkeypatch.setattr(mod, "measure_agree_min", lambda *a, **k: 1)
    tiny = {900: "trailing doc omega sigma tau"}
    n, refit = append_to_minhash_index(
        idx, _mini_corpus(spark, tiny), refit_threshold=0.5
    )
    assert refit is True
    assert read_meta(spark, idx).agree_min == 1


def test_sig_collision_anchor_falls_back_to_band_expansion(spark, tmp_path):
    """Round-10 fix (r9 verdict #6b): a batch doc whose FULL minhash
    signature collides with a NON-near-dup indexed doc used to anchor to
    it, skip band expansion, and lose its one anchor edge at the exact
    verify — silent doc-level zero recall. Anchors are now verified
    eagerly; a failed anchor re-enters band expansion and recovers the
    doc's true near-dup partners.

    The fixture engineers a genuine collision: doc B extends doc A with
    filler words whose shingles never lower any of A's 8 minhash minima,
    so sig(B) == sig(A) while jaccard(A, B) < 0.8. Doc C (indexed) is a
    true near-dup of B."""
    import hashlib

    def mh(s: str) -> list[int]:
        out = []
        for i in range(8):
            seed, chunk = divmod(i, 4)
            h = hashlib.md5(f"{seed}|{s}".encode()).hexdigest()
            out.append(int(h[8 * chunk : 8 * chunk + 8], 16))
        return out

    def shingles(text: str) -> set[str]:
        w = [t for t in text.split(" ")]
        return {f"{a}_{b}" for a, b in zip(w, w[1:])}

    def sig_of(sh: set[str]) -> tuple[int, ...]:
        hs = [mh(s) for s in sorted(sh)]
        return tuple(min(h[i] for h in hs) for i in range(8))

    base_words = [f"a{i:02d}" for i in range(30)]
    text_a = " ".join(base_words)
    minima = sig_of(shingles(text_a))

    # greedily extend A with shingles that keep every minimum intact
    fillers, last = [], base_words[-1]
    pool = iter(f"f{i:04d}" for i in range(20000))
    while len(fillers) < 12:
        cand = next(pool)
        if all(h >= m for h, m in zip(mh(f"{last}_{cand}"), minima)):
            fillers.append(cand)
            last = cand
    text_b = text_a + " " + " ".join(fillers)
    assert sig_of(shingles(text_b)) == minima, "fixture must collide"
    ja_b = len(shingles(text_a)) / len(shingles(text_a) | shingles(text_b))
    assert ja_b < 0.8, "A and B must NOT be near-dups"
    text_c = text_b + " czzz"
    sb, sc = shingles(text_b), shingles(text_c)
    assert len(sb & sc) / len(sb | sc) >= 0.8, "B and C must be near-dups"

    # filler docs keep the store non-degenerate
    corpus = {1: text_a, 50: text_c}
    for i in range(2, 10):
        corpus[i] = " ".join(f"z{i}w{j}" for j in range(20))
    idx = os.path.join(str(tmp_path), "mh_collide")
    build_minhash_index(_mini_corpus(spark, corpus), idx)

    batch = _mini_corpus(spark, {100: text_b})
    got = {
        (r.d1, r.d2): r.jaccard
        for r in incremental_dup_pairs(batch, idx).collect()
    }
    # the collided anchor (A=1) must NOT appear: it fails exact verify
    assert (1, 100) not in got
    # the true near-dup partner (C=50) must be recovered via bands —
    # pre-fix the failed anchor suppressed band expansion entirely
    assert (50, 100) in got and got[(50, 100)] >= 0.8, got

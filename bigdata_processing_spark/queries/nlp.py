"""NLP-pipeline queries: TF-IDF term scoring and dataset profiling.

TF-IDF is the classic corpus-statistics operator: term frequencies are
per-document (map-side), document frequencies are one corpus aggregate,
and the join back is by token — the same dictionary-join shape as the
MinHash vocabulary encoding (queries/dedup.py). All JVM-side."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_processing_spark import cache
from bigdata_processing_spark.catalog import load_table, table_rows
from bigdata_processing_spark.operators.regime import bcast_if_small
from bigdata_processing_spark.queries import register


# ---------------------------------------------------------------------------
# Top-3 TF-IDF terms per document (sample of 20 docs; tf and idf both
# computed over the FULL corpus — only the final per-doc ranking is
# sampled).
# ---------------------------------------------------------------------------
@register(
    "tfidf_top_terms",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
            FROM documents
        ),
        tf AS (
            SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok
        ),
        df AS (
            SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.tok,
                   round(tf.tf * ln(n.n_docs::DOUBLE / df.df), 9) AS tfidf
            FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
        )
        SELECT doc_id, tok, tfidf, rn FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rn
            FROM scored
        )
        WHERE rn <= 3 AND doc_id < 20
        ORDER BY doc_id, rn
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    # df OFF the tf aggregate: tf is one row per (doc_id, tok), so the
    # plain count per tok equals countDistinct(doc_id) over the raw token
    # stream — the second full-stream pass AND its two-phase distinct
    # expand both drop; the (doc, tok) exchange is shared with `scored`
    # via ReusedExchange (r12)
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = table_rows(sf_dir, "documents")  # footer count == docs.count()
    # the df table is VOCABULARY-sized — it grows with the corpus, so the
    # join rides the shared regime switch (broadcast small, sort-merge
    # big), never a forced broadcast (r9 verdict: same table shape that
    # OOM'd doc_novelty_bands at 100x)
    scored = tf.join(bcast_if_small(df, sf_dir), "tok").select(
        "doc_id",
        "tok",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 9).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter((F.col("rn") <= 3) & (F.col("doc_id") < 20))
        .orderBy("doc_id", "rn")
    )


# ---------------------------------------------------------------------------
# Dataset profiling: per-column null rate / distinct count / extrema for
# the orders table — the data-quality pass a training pipeline runs
# before ingest. One scan; per-column stats as a long-format union.
# ---------------------------------------------------------------------------
@register(
    "profile_orders",
    oracle="""
        SELECT 'o_custkey' AS col, count(*) AS n,
               count(*) - count(o_custkey) AS n_null,
               count(DISTINCT o_custkey) AS n_distinct,
               min(o_custkey)::VARCHAR AS min_v, max(o_custkey)::VARCHAR AS max_v
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
               count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
               count(DISTINCT o_totalprice),
               round(min(o_totalprice), 2)::VARCHAR, round(max(o_totalprice), 2)::VARCHAR
        FROM orders
        ORDER BY col
    """,
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def prof(col: str, render):
        return orders.agg(
            F.lit(col).alias("col"),
            F.count("*").alias("n"),
            (F.count("*") - F.count(col)).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            render(F.min(col)).alias("min_v"),
            render(F.max(col)).alias("max_v"),
        )

    as_str = lambda c: c.cast("string")  # noqa: E731
    as_money = lambda c: F.round(c, 2).cast("string")  # noqa: E731
    return (
        prof("o_custkey", as_str)
        .unionByName(prof("o_orderstatus", as_str))
        .unionByName(prof("o_totalprice", as_money))
        .orderBy("col")
    )


# ---------------------------------------------------------------------------
# Declarative data-quality checks (dbt-test / expectations style): each
# named rule counts its violations in ONE pass over the table, then the
# 1-row aggregate unpivots to a row per check — the contract report a
# pipeline gates ingestion on.
# ---------------------------------------------------------------------------
@register(
    "data_quality_checks",
    oracle="""
        WITH m AS (
            SELECT count(*) AS n,
                   sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS bad_price,
                   sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust,
                   sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS bad_status,
                   sum(CASE WHEN o_orderdate < DATE '1992-01-01'
                                 OR o_orderdate > DATE '1998-12-31' THEN 1 ELSE 0 END) AS bad_date
            FROM orders
        )
        SELECT check_name, n AS n_checked, n_violations, n_violations = 0 AS passed
        FROM (
            SELECT n, 'price_positive' AS check_name, bad_price::BIGINT AS n_violations FROM m
            UNION ALL SELECT n, 'custkey_not_null', null_cust::BIGINT FROM m
            UNION ALL SELECT n, 'status_in_domain', bad_status::BIGINT FROM m
            UNION ALL SELECT n, 'orderdate_in_range', bad_date::BIGINT FROM m
        )
        ORDER BY check_name
    """,
)
def data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract checks over orders — positivity, non-null key, status
    domain, date range — as ONE keyless aggregate (each rule a
    conditional sum, all map-side combined) whose single row unpivots
    via stack() into a per-check report. Adding a rule is one
    expression, never another scan: at 100 TB the table is read once
    regardless of how many expectations it carries."""
    orders = load_table(spark, sf_dir, "orders")

    def bad(cond) -> "F.Column":
        return F.sum(F.when(cond, 1).otherwise(0))

    m = orders.agg(
        F.count("*").alias("n"),
        bad(F.col("o_totalprice") <= 0).alias("bad_price"),
        bad(F.col("o_custkey").isNull()).alias("null_cust"),
        bad(~F.col("o_orderstatus").isin("O", "F", "P")).alias("bad_status"),
        bad(
            (F.col("o_orderdate") < F.lit("1992-01-01").cast("date"))
            | (F.col("o_orderdate") > F.lit("1998-12-31").cast("date"))
        ).alias("bad_date"),
    )
    return (
        m.select(
            F.col("n").alias("n_checked"),
            F.expr(
                "stack(4,"
                " 'price_positive', CAST(bad_price AS BIGINT),"
                " 'custkey_not_null', CAST(null_cust AS BIGINT),"
                " 'status_in_domain', CAST(bad_status AS BIGINT),"
                " 'orderdate_in_range', CAST(bad_date AS BIGINT)"
                ") AS (check_name, n_violations)"
            ),
        )
        .select(
            "check_name",
            "n_checked",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )
        .orderBy("check_name")
    )


# ---------------------------------------------------------------------------
# Bigram language-model cross-entropy: fit an add-k-smoothed bigram LM
# on the corpus itself and score every document's per-bigram cross-
# entropy against it. The step up from unigram surprisal
# (queries/quality.py): word-ORDER anomalies (shuffled text, keyword
# stuffing, concatenated fragments) score high here while passing
# unigram screens. Classic CCNet/Gopher-style quality signal, here
# entirely relational: two count aggregations + an occurrence join.
# ---------------------------------------------------------------------------
BIGRAM_ADD_K = 0.5


@register(
    "bigram_perplexity_bands",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
            FROM documents
        ),
        occ0 AS (
            SELECT doc_id, tk,
                   unnest(range(1, greatest(len(tk) - 1, 0) + 1)) AS pos
            FROM toks
        ),
        occ AS (
            SELECT doc_id, tk[pos] AS w1, tk[pos + 1] AS w2 FROM occ0
        ),
        bc AS (SELECT w1, w2, count(*) AS c2 FROM occ GROUP BY w1, w2),
        ctx AS (SELECT w1, sum(c2) AS c1 FROM bc GROUP BY w1),
        voc AS (
            SELECT count(DISTINCT t) AS v FROM (
                SELECT unnest(tk) AS t FROM toks
            )
        ),
        scored AS (
            SELECT o.doc_id,
                   -log2((bc.c2 + {BIGRAM_ADD_K}) / (ctx.c1 + {BIGRAM_ADD_K} * voc.v))
                       AS nll
            FROM occ o
            JOIN bc ON o.w1 = bc.w1 AND o.w2 = bc.w2
            JOIN ctx ON o.w1 = ctx.w1
            CROSS JOIN voc
        ),
        perdoc AS (
            SELECT doc_id, avg(nll) AS ce, count(*) AS n_bigrams
            FROM scored GROUP BY doc_id
        )
        SELECT least(floor(ce), 15)::BIGINT AS ce_band,
               count(*) AS n_docs,
               round(avg(ce), 6) AS avg_ce,
               round(avg(n_bigrams), 6) AS avg_bigrams
        FROM perdoc
        GROUP BY ce_band
        ORDER BY ce_band
    """,
)
def bigram_perplexity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents banded by add-k bigram cross-entropy (bits/bigram)
    against the corpus-fit LM. Counts shuffle by bigram once; the
    context totals are a rollup OF the bigram counts (no second corpus
    pass); each occurrence joins its probability by bigram key. At
    100 TB the LM tables are vocabulary²-bounded (≪ corpus) and the
    occurrence join is the only data-sized shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    tk = F.filter(F.split("text", " "), lambda t: t != "")
    toks = docs.select("doc_id", tk.alias("tk"))
    n_pos = F.greatest(F.size("tk") - 1, F.lit(0))
    seq = F.when(n_pos >= 1, F.sequence(F.lit(1), n_pos)).otherwise(
        F.array().cast("array<int>")
    )
    occ = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                seq,
                lambda i: F.struct(
                    F.element_at("tk", i).alias("w1"),
                    F.element_at("tk", i + 1).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    bc = occ.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    ctx = bc.groupBy("w1").agg(F.sum("c2").alias("c1"))
    voc = toks.select(F.explode("tk").alias("t")).agg(
        F.countDistinct("t").alias("v")
    )
    nll = -F.log2(
        (F.col("c2") + BIGRAM_ADD_K) / (F.col("c1") + BIGRAM_ADD_K * F.col("v"))
    )
    scored = (
        occ.join(bc, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(voc))
        .select("doc_id", nll.alias("nll"))
    )
    perdoc = scored.groupBy("doc_id").agg(
        F.avg("nll").alias("ce"), F.count("*").alias("n_bigrams")
    )
    return (
        perdoc.select(
            F.least(F.floor("ce"), F.lit(15)).cast("bigint").alias("ce_band"),
            "ce",
            "n_bigrams",
        )
        .groupBy("ce_band")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("ce"), 6).alias("avg_ce"),
            F.round(F.avg("n_bigrams").cast("double"), 6).alias("avg_bigrams"),
        )
        .orderBy("ce_band")
    )


# ---------------------------------------------------------------------------
# Hashing-trick featurization → exact kNN (functions/text.hashed_tf):
# text becomes a fixed-dim dense vector with NO trained vocabulary (one
# md5 per token, L2-normalized bucket counts), then the same
# broadcast-query brute-force cosine shape as knn_bruteforce. This is
# the text→vector→ANN path when no embedding model has run yet — at
# 100 TB the featurization is a pure map (no vocab shuffle, fixed
# memory) and the search drops into any of the IVF/PQ/binary tiers.
# ---------------------------------------------------------------------------
HASHED_TF_DIM = 16


def _hashed_tf_knn_oracle() -> str:
    from bigdata_processing_spark.functions.text import hashed_tf_sql

    v = hashed_tf_sql("text", HASHED_TF_DIM)
    return f"""
        WITH d AS (
            SELECT doc_id, v, sqrt(list_dot_product(v, v)) AS nrm
            FROM (SELECT doc_id, {v} AS v FROM documents)
        ),
        q AS (SELECT doc_id AS qid, v AS qv, nrm AS qn FROM d WHERE doc_id % 100 = 0),
        c AS (SELECT doc_id AS cid, v AS cv, nrm AS cn FROM d),
        s AS (
            SELECT qid, cid, list_dot_product(qv, cv) / (qn * cn) AS cos_sim
            FROM q JOIN c ON cid <> qid
        )
        SELECT qid, cid, cos_sim, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) AS rn
            FROM s
        )
        WHERE rn <= 3
        ORDER BY qid, rn
    """


@register("hashed_tf_knn", oracle=_hashed_tf_knn_oracle())
def hashed_tf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_processing_spark.functions import text as T
    from bigdata_processing_spark.functions import vectors as V
    # PERSIST BARRIER, load-bearing: without it Catalyst inlines the
    # md5-per-token featurization tree into the join and re-evaluates it
    # per PAIR — measured 179s vs ~1s at sf0.1. Materialized, each doc
    # is featurized exactly once; norms come off the stored column.
    # repartition before the persist: the featurized frame is tiny in
    # bytes but every downstream pair/argmin op is CPU-heavy interpreted
    # arithmetic, and the size-based parquet split leaves it on a
    # handful of partitions (measured at the 10x sweep: one 10-task
    # stage pinned a 32-core host). One ~n-row shuffle spreads it across
    # every core; 2x defaultParallelism scales with the rig.
    docs = cache.hold(
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            T.hashed_tf(F.col("text"), HASHED_TF_DIM).alias("v"),
        )
        .withColumn("nrm", V.norm(F.col("v")))
        .repartition(2 * spark.sparkContext.defaultParallelism)
    )
    q = docs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("qid"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = docs.select(
        F.col("doc_id").alias("cid"), F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    # Round 12: EXACT-INTEGER MATMUL scoring (the intexact trick, now on
    # the brute twin). Hashed-TF vectors are whole-valued counts, so
    # every per-pair product and partial sum is an integer ≪ 2^53 —
    # numpy's BLAS dot is bit-equal to the interpreted ordered fold in
    # ANY summation order, and the cosine divides that exact dot by the
    # identical (qn·cn) product. The query matrix is collected once
    # (n/100 × 16 doubles — KBs at any probed scale; falls back to the
    # fold + regime-switched top-k past the collect bound), candidates
    # stream through mapInPandas, and each Arrow batch emits only its
    # per-query top-3 band (k-th-value mask keeps boundary ties, NaN
    # rows ride along to preserve the window's NaN-first semantics), so
    # the global window ranks thousands of rows, never n×q. 100×
    # before: 624 s scoring 2.5G pairs through the fold with a 16 GB
    # pair-frame cache; the matmul path scores the same pairs in BLAS
    # and shuffles only top bands.
    q_rows = q.collect()
    if len(q_rows) * HASHED_TF_DIM > 4_000_000:
        from bigdata_processing_spark.queries.similarity import (
            _persist_if_pruned,
            grouped_topk,
        )

        joined = c.join(F.broadcast(q), F.col("cid") != F.col("qid"))
        cos = V.dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        scored = joined.select("qid", "cid", cos.alias("cos_sim"))
        n = docs.count()
        n_pairs = n * max(1, n // 100)
        scored = _persist_if_pruned(scored, n_pairs)
        return (
            grouped_topk(scored, 3, "qid", "cos_sim", "cid", n_pairs)
            .withColumn("rn", F.col("rn").cast("long"))
            .orderBy("qid", "rn")
        )

    import numpy as np

    Qm = np.array([list(r.qv) for r in q_rows], dtype="float64")
    qn_v = np.array([r.qn for r in q_rows], dtype="float64")
    qid_v = np.array([r.qid for r in q_rows], dtype="int64")
    colmap = {int(qd): j for j, qd in enumerate(qid_v)}

    def score_batches(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            C = np.vstack(pdf["v"].to_numpy())
            if not (C == np.floor(C)).all():
                raise ValueError(
                    "hashed_tf_knn matmul scorer requires whole-valued "
                    "vectors (the exactness precondition)"
                )
            cn_v = pdf["nrm"].to_numpy(dtype="float64")
            cids = pdf["doc_id"].to_numpy(dtype="int64")
            S = (C @ Qm.T) / (cn_v[:, None] * qn_v[None, :])
            for i, cd in enumerate(cids):
                j = colmap.get(int(cd))
                if j is not None:
                    S[i, j] = -np.inf
            kth = min(2, len(cids) - 1)
            thr = -np.partition(-S, kth, axis=0)[kth]
            mask = (S >= thr[None, :]) | np.isnan(S)
            mask &= S > -np.inf
            rows, cols = np.nonzero(mask)
            yield pd.DataFrame({
                "qid": qid_v[cols],
                "cid": cids[rows],
                "cos_sim": S[rows, cols],
            })

    scored = docs.select("doc_id", "v", "nrm").mapInPandas(
        score_batches, "qid long, cid long, cos_sim double"
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("cid").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .withColumn("rn", F.col("rn").cast("long"))
        .orderBy("qid", "rn")
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve: the measurement behind tokenizer/vocab-size
# decisions — what fraction of all token OCCURRENCES does a top-k
# vocabulary cover? One explode → token counts (map-side combined), then
# ranking/cumsum over the VOCAB-sized table only (never corpus-sized;
# for a 1M+-type vocabulary swap the single window for a two-stage
# salted rank — same discipline as bottomk_sample's top-k).
# ---------------------------------------------------------------------------
VOCAB_CURVE_KS = (1, 2, 4, 8, 16, 32)


@register(
    "vocab_coverage_curve",
    oracle=f"""
        WITH tok AS (
            SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
            FROM documents
        ),
        cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        r AS (
            SELECT t, c,
                   row_number() OVER (ORDER BY c DESC, t ASC) AS rk,
                   sum(c) OVER (ORDER BY c DESC, t ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   sum(c) OVER ()::DOUBLE AS tot
            FROM cnt
        ),
        ks AS (SELECT unnest({list(VOCAB_CURVE_KS)}) AS k)
        SELECT k::BIGINT AS k,
               count(*)::BIGINT AS n_vocab_used,
               max(cum)::DOUBLE / any_value(tot) AS coverage
        FROM ks JOIN r ON r.rk <= ks.k
        GROUP BY k
        ORDER BY k
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage SALTED rank (round 7, self-flagged ROADMAP r7 #2): the
    old single global window ran rank+cumsum over the whole vocab table
    in ONE partition — fine while vocab ≪ corpus, a one-task funnel at
    1M+ types. Now stage 1 takes each salt partition's local top-kmax
    (every global top-kmax token is in its salt's local top-kmax, so the
    2-stage rank is EXACT — the bottomk_sample discipline), and the only
    remaining single-partition window runs over ≤ n_salts·kmax rows, a
    constant independent of vocabulary size. The grand total is a
    keyless map-side-combined aggregate off the persisted counts, so the
    corpus is still exploded exactly once. Oracle unchanged."""
    from bigdata_processing_spark.functions import text as T
    from bigdata_processing_spark.sources.writers import literal_df

    docs = load_table(spark, sf_dir, "documents")
    cnt = cache.hold(  # two light consumers (top-k, total)
        docs.select(F.explode(F.filter(T.tokens(F.col("text")), lambda t: t != "")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    kmax = max(VOCAB_CURVE_KS)
    n_salts = 32
    wloc = Window.partitionBy("salt").orderBy(F.col("c").desc(), F.col("t").asc())
    survivors = (
        cnt.withColumn("salt", F.pmod(F.hash("t"), F.lit(n_salts)))
        .withColumn("lrk", F.row_number().over(wloc))
        .filter(F.col("lrk") <= kmax)
    )
    wg = Window.orderBy(F.col("c").desc(), F.col("t").asc())
    ranked = (
        survivors.select(
            "t", "c",
            F.row_number().over(wg).alias("rk"),
            F.sum("c").over(
                wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("cum"),
        )
        .filter(F.col("rk") <= kmax)
    )
    tot = cnt.agg(F.sum("c").cast("double").alias("tot"))
    ks = literal_df(spark, [(k,) for k in VOCAB_CURVE_KS], "k int")
    return (
        ks.join(F.broadcast(ranked), F.col("rk") <= F.col("k"))
        .crossJoin(F.broadcast(tot))
        .groupBy(F.col("k").cast("bigint").alias("k"))
        .agg(
            F.count("*").alias("n_vocab_used"),
            (F.max("cum").cast("double") / F.any_value("tot")).alias("coverage"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Celled hashed-TF kNN: the scale tier above hashed_tf_knn's brute
# baseline. Cells are seeded by the lowest-doc_id hashed vectors — but
# the cell COUNT follows operators/ivf.ivf_cell_count's 4·√n policy
# (clamped), not a constant: the first cut of this query used 8 fixed
# cells and the 10× smoke measured 13.6× growth (slower than brute!)
# because n_probe/n_cells-fraction candidates are quadratic when the
# cell count doesn't grow — the exact bug allpairs_cell_count fixed for
# the embedding family in round 3. Assignment and probe ranking share
# ONE scoring expression (the rank-invariant c·c − 2·v·c, ordered-fold
# dots) so the DuckDB twin reproduces both bit-for-bit. Training the
# cells was built, measured flat on this near-isotropic vector family,
# and rejected (ROADMAP round-7 #1).
# ---------------------------------------------------------------------------
HASHED_TF_N_PROBE = 2

# ivf_cell_count(n) as one ANSI-SQL scalar (the tc_c0 fragment of
# queries/dedup._sql_emb_assign, over documents)
_SQL_HTF_NCELLS = """(SELECT CASE WHEN count(*) < 8 THEN greatest(1, count(*))
                   ELSE least(greatest(8, CAST(floor(4*sqrt(count(*))) AS BIGINT)),
                              greatest(1, count(*) // 39),
                              262144) END
            FROM documents)"""


def _hashed_tf_knn_celled_oracle() -> str:
    from bigdata_processing_spark.functions.text import hashed_tf_sql

    v = hashed_tf_sql("text", HASHED_TF_DIM)
    return f"""
        WITH hd AS (
            SELECT doc_id, v, sqrt(list_dot_product(v, v)) AS nrm
            FROM (SELECT doc_id, {v} AS v FROM documents)
        ),
        cells AS (
            SELECT row_number() OVER (ORDER BY doc_id) - 1 AS cell,
                   v AS cv, list_dot_product(v, v) AS cc
            FROM (SELECT doc_id, v FROM hd ORDER BY doc_id
                  LIMIT {_SQL_HTF_NCELLS})
        ),
        scores AS (
            SELECT hd.doc_id, cells.cell,
                   row_number() OVER (
                       PARTITION BY hd.doc_id
                       ORDER BY cells.cc - 2 * list_dot_product(hd.v, cells.cv) ASC,
                                cells.cell ASC) AS r
            FROM hd CROSS JOIN cells
        ),
        asg AS (SELECT doc_id, cell FROM scores WHERE r = 1),
        probes AS (
            SELECT doc_id AS qid, cell FROM scores
            WHERE doc_id % 100 = 0 AND r <= {HASHED_TF_N_PROBE}
        ),
        s AS (
            SELECT p.qid, c.doc_id AS cid,
                   list_dot_product(dq.v, c.v) / (dq.nrm * c.nrm) AS cos_sim
            FROM probes p
            JOIN asg a ON a.cell = p.cell
            JOIN hd c ON c.doc_id = a.doc_id
            JOIN hd dq ON dq.doc_id = p.qid
            WHERE c.doc_id <> p.qid
        )
        SELECT qid, cid, cos_sim, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid ASC) AS rn
            FROM s
        )
        WHERE rn <= 3
        ORDER BY qid, rn
    """


@register("hashed_tf_knn_celled", oracle=_hashed_tf_knn_celled_oracle())
def hashed_tf_knn_celled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_processing_spark.functions import text as T
    from bigdata_processing_spark.functions import vectors as V
    from bigdata_processing_spark.operators.ivf import (
        ivf_cell_count,
        seed_centroids,
        seeded_assign_cells_intexact,
    )
    from bigdata_processing_spark.sources.writers import literal_df

    # same persist barrier as hashed_tf_knn: featurize each doc ONCE;
    # same pre-persist repartition (the n x k argmin fold is CPU-bound
    # and parquet splits under-parallelize the small-byte frame)
    vecs = cache.hold(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", T.hashed_tf(F.col("text"), HASHED_TF_DIM).alias("v"))
        .withColumn("nrm", V.norm(F.col("v")))
        .repartition(2 * spark.sparkContext.defaultParallelism)
    )
    n_docs = vecs.count()  # one scalar: sizes the quantizer
    cents = seed_centroids(
        vecs, ivf_cell_count(n_docs), vec_col="v", id_col="doc_id"
    )
    # doc → cell via the exact-integer numpy assigner: hashed-TF counts
    # and their seed centroids are whole doubles, so the matmul argmin
    # is bit-equal to the ordered fold (seeded_assign_cells_intexact's
    # docstring carries the proof; equality pinned in test_ivf). The
    # interpreted HOF fold was this query's sf1 cost center (~15s of
    # n×C×dim interpreted ops).
    asg = seeded_assign_cells_intexact(vecs, cents, id_col="doc_id", e_col="v")

    def self_dot(c):
        acc = 0.0
        for x in c:
            acc += x * x
        return acc  # same sequential fold as list_dot_product

    cdf = literal_df(
        spark, [(i, list(c), self_dot(c)) for i, c in enumerate(cents)],
        "cell int, cent array<double>, cc double",
    )
    qdf = vecs.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("qid"), F.col("v").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    probe_score = F.col("cc") - 2.0 * V.dot(F.col("qe"), F.col("cent"))
    wq = Window.partitionBy("qid").orderBy(probe_score.asc(), F.col("cell").asc())
    probes = (
        qdf.crossJoin(F.broadcast(cdf))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= HASHED_TF_N_PROBE)
        .select("qid", "qe", "qn", "cell")
    )
    cand = (
        probes.join(asg, "cell")
        .filter(F.col("doc_id") != F.col("qid"))
        .join(vecs, "doc_id")
    )
    cos = V.dot(F.col("qe"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid").asc())
    return (
        cand.select("qid", F.col("doc_id").alias("cid"), cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .orderBy("qid", "rn")
    )

"""Every registered query vs its DuckDB oracle at sf0.001 (fast gate;
the driver runs the same contract at sf0.01)."""

from __future__ import annotations

import pytest

from conftest import SF_SMALL
from oracle_harness import compare

from bigdata_processing_spark import cache
from bigdata_processing_spark.queries import all_oracles, all_queries
from bigdata_processing_spark.queries.dedup import MEMO_FAMILY

_QUERIES = all_queries()
_ORACLES = all_oracles()
# query name -> whether its run touched a keyed session-cache entry
_TOUCHED: dict[str, bool] = {}


def _run(spark, name):
    before = sum(cache.stats.values())
    df = _QUERIES[name](spark, SF_SMALL)
    _TOUCHED[name] = sum(cache.stats.values()) > before
    return df


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(spark, name):
    df = _run(spark, name)
    if name in _ORACLES:
        problems = compare(df, SF_SMALL, _ORACLES[name])
        assert not problems, f"{name}: {problems[:5]}"
    else:
        # rows-only contract for non-SQL-expressible ops
        assert df.count() >= 0
        assert df.columns


def test_memo_family_is_the_set_of_cache_touchers(spark):
    """MEMO_FAMILY (the bench's cold-attribution set) is exactly the set
    of registered queries that touch a keyed session-cache entry, a hit
    or a miss. Reads the runs above; only a query that did not run in
    this session (a -k selection) runs here."""
    for name in sorted(set(_QUERIES) - set(_TOUCHED)):
        _run(spark, name)
    assert len(set(MEMO_FAMILY)) == len(MEMO_FAMILY)
    assert set(MEMO_FAMILY) == {n for n, hit in _TOUCHED.items() if hit}


def test_every_oracle_has_a_query():
    assert set(_ORACLES) <= set(_QUERIES)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_timestamp_queries_are_session_tz_independent(spark):
    """The driver harness builds its own SparkSession with whatever
    timezone the host has. The NTZ end-to-end design makes every
    timestamp-touching query's result independent of
    spark.sql.session.timeZone — assert it by re-running the
    timestamp-heavy queries under a shifted zone."""
    names = ["monthly_orders", "session_windows_30m", "rolling_1h_stats",
             "date_functions", "tumbling_window_6h", "asof_purchase_last_view"]
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for n in names:
            problems = compare(_QUERIES[n](spark, SF_SMALL), SF_SMALL, _ORACLES[n])
            assert not problems, f"{n}: {problems[:3]}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_hard_negatives_anchor_thinning_is_consistent_subset(spark):
    """anchor_keep_mod (the probe-sweep bound) must select the same
    deterministic anchor subset as the full run restricted to kept
    qids — per-anchor truth rows are independent, so rows match
    exactly on the kept anchors and no others appear."""
    from pyspark.sql import functions as F

    from bigdata_processing_spark.queries.similarity import hard_negatives

    sf = "/root/testdata/sf0.01"
    full = hard_negatives(spark, sf).collect()
    thin = hard_negatives(spark, sf, anchor_keep_mod=2).collect()
    kept = {
        r.qid for r in spark.createDataFrame([(r.qid,) for r in full], "qid long")
        .filter(F.pmod(F.xxhash64("qid"), F.lit(2)) == 0).collect()
    }
    assert 0 < len(kept) < len({r.qid for r in full})
    want = sorted((r.qid, r.cid, r.rn) for r in full if r.qid in kept)
    got = sorted((r.qid, r.cid, r.rn) for r in thin)
    assert got == want

"""The Arrow replays of the ordered-fold dot (functions/vectors.py):
``dot_vectorized`` and the probe-cell ranking ``cell_ranks`` return
exactly what the JVM ``aggregate(zip_with)`` fold returns, so the
regime switch between the two forms changes cost, never values.
"""

from __future__ import annotations

import os
import re

import pytest

from pyspark.sql import functions as F

from bigdata_processing_spark.catalog import load_table
from bigdata_processing_spark.functions import vectors as V
from conftest import SF_ORACLE, SF_SMALL

SF_BENCH = os.path.join(os.path.dirname(SF_ORACLE), "sf0.1")


def _hex(x):
    return None if x is None else x.hex()


@pytest.mark.parametrize("sf", [SF_SMALL, SF_ORACLE, SF_BENCH])
def test_dot_vectorized_bit_equals_fold(spark, sf):
    """A bounded 300×300 pair set of each fixture's embeddings: every
    Arrow dot is the fold's double, bit for bit."""
    emb = load_table(spark, sf, "embeddings").filter(F.col("vec_id") < 300)
    a = emb.select(F.col("vec_id").alias("i"), F.col("embedding").alias("x"))
    b = emb.select(F.col("vec_id").alias("j"), F.col("embedding").alias("y"))
    rows = a.crossJoin(b).select(
        V.dot("x", "y").alias("f"), V.dot_vectorized("x", "y").alias("v")
    ).collect()
    n = emb.count()
    assert len(rows) == n * n and n > 0
    diff = [r for r in rows if _hex(r.f) != _hex(r.v)]
    assert not diff, f"{len(diff)} of {len(rows)} differ, e.g. {diff[:3]}"


def _probe_rows(spark, base, cents, depth):
    from bigdata_processing_spark.queries.similarity import _anchor_probe_ranks

    return [
        sorted(map(tuple, _anchor_probe_ranks(spark, base, cents, depth, arrow)
                   .select("qid", "qlabel", "cell", "pr").collect()))
        for arrow in (False, True)
    ]


def test_arrow_probe_ranks_equal_window_form(spark):
    """sf0.01, pr ≤ 12: the Arrow ranking and the cross-join + window
    form give identical (qid, cell, pr) rows — on the trained cells and
    on a set where each of 24 vectors is a centroid four times over, so
    exact score ties fill the ranks and must break by cell."""
    import bigdata_processing_spark.queries.dedup as dd

    try:
        base, cents = dd._emb_assigned(spark, SF_ORACLE)
        n_q = base.filter(F.col("vec_id") % 100 == 0).count()
        extra = [r.e for r in base.orderBy("vec_id").limit(24).collect()]
        for cs in (cents, extra * 4):
            fold, arrow = _probe_rows(spark, base, cs, 12)
            assert fold == arrow
            assert len(fold) == n_q * min(12, len(cs)) and n_q > 0
    finally:
        dd.clear_dedup_memos()


def test_fold_kernels_on_null_ragged_and_nan_rows(spark):
    """Rows the zero-copy view cannot take get the fold's result: a null
    dot, and all-null scores ranked first (ties by cell, so the first
    cells); NaN stays on the vectorized path and ranks last. One
    partition, so clean and null rows share an Arrow batch."""
    nan = float("nan")
    vecs = [[1.0, 2.0, 3.0], None, [1.0, 2.0], [1.0, None, 3.0],
            [nan, 1.0, 1.0], [0.5, -0.5, 0.25]]
    other = [4.0, 5.0, 6.0]
    df = spark.createDataFrame(
        [(i, v, other) for i, v in enumerate(vecs)],
        "i int, a array<double>, b array<double>",
    ).coalesce(1)
    got = df.select(
        "i", V.dot("a", "b").alias("f"), V.dot_vectorized("a", "b").alias("v")
    ).collect()
    assert [_hex(r.f) for r in got] == [_hex(r.v) for r in got]
    assert [r.v is None for r in got] == [False, True, True, True, False, False]

    base = spark.createDataFrame(
        [(100 * i, 0, v, 1.0) for i, v in enumerate(vecs)],
        "vec_id long, label int, e array<double>, nrm double",
    ).coalesce(1)
    cents = [[0.0, 1.0, 0.0], [1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [1.0, 1.0, 1.0]]
    fold, arrow = _probe_rows(spark, base, cents, 3)
    assert fold == arrow
    null_row = [(c, pr) for q, _l, c, pr in arrow if q == 100]
    assert null_row == [(0, 1), (1, 2), (2, 3)]


def test_big_regime_probes_build_no_centroid_table(spark, monkeypatch):
    """Above EMB_EXACT_ASSIGN_MAX both probe consumers rank cells in the
    Arrow kernel: no anchors × centroids product and no centroid VALUES
    table (its ``cent`` column) in either plan."""
    import bigdata_processing_spark.queries.dedup as dd
    from bigdata_processing_spark.queries.similarity import (
        hard_negative_probe_sweep,
        hard_negatives_celled,
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    dd.clear_dedup_memos()
    monkeypatch.setattr(dd, "EMB_EXACT_ASSIGN_MAX", 10)
    try:
        celled = plan(hard_negatives_celled(spark, SF_SMALL))
        sweep = plan(hard_negative_probe_sweep(spark, SF_SMALL))
    finally:
        dd.clear_dedup_memos()
    for p in (celled, sweep):
        assert "_ranks(" in p
        assert not re.search(r"\bcent#", p)
    assert "BroadcastNestedLoopJoin" not in celled
    assert "CartesianProduct" not in celled

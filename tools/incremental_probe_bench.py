#!/usr/bin/env python
"""Incremental-dedup probe wall at N× scale (VERDICT r05 next-round #2).

Protocol (matches the r05 BASELINE.md table): build the 10× id-shifted
clone of sf0.1 documents (= sf1 doc volume), index the 90% doc_id-hash
split, then time (a) a warm 10%-batch probe, (b) a warm 1%-batch probe,
against the full-pipeline recompute. Records pairs + wall + the number
of shingle-store directories the verify leg actually read (partition
pruning is the round-6 change being measured).

Run: ``python tools/incremental_probe_bench.py [N] [sf_dir]``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bigdata_processing_spark.catalog import load_table  # noqa: E402
from bigdata_processing_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("incremental-probe-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from tools.sf1_dedup_proof import build_docs_scaled

    from bigdata_processing_spark.cache import release_held
    from bigdata_processing_spark.operators.incremental_dedup import (
        build_minhash_index,
        incremental_dup_pairs,
    )

    scaled = build_docs_scaled(spark, sf_dir, n, f"/tmp/sf1_dedup_proof_{n}x")
    docs = load_table(spark, scaled, "documents")
    idx = f"/tmp/incr_probe_bench_{n}x"
    import shutil

    shutil.rmtree(idx, ignore_errors=True)

    report: dict = {"n": n, "docs": docs.count()}
    t0 = time.monotonic()
    report["indexed"] = build_minhash_index(docs.filter(F.col("doc_id") % 10 != 0), idx)
    report["sec_build"] = round(time.monotonic() - t0, 2)

    # both probes draw from the held-out doc_id%10==0 split (never
    # indexed): 10% = the whole split, 1% = its %100 subset. Three
    # repeats, min taken — single-shot walls on this host drift ±20%.
    for mod, name in (
        (10, "warm_10pct"),
        (100, "warm_1pct"),
        (5000, "warm_10docs"),  # streaming micro-batch regime: pruning on
    ):
        batch = docs.filter(F.col("doc_id") % mod == 0)
        walls = []
        for _ in range(3):
            t0 = time.monotonic()
            pairs = incremental_dup_pairs(batch, idx)
            cnt = pairs.count()
            walls.append(round(time.monotonic() - t0, 2))
            release_held()
        report[f"sec_probe_{name}"] = min(walls)
        report[f"sec_probe_{name}_all"] = walls
        report[f"pairs_{name}"] = cnt

    print(json.dumps(report))


if __name__ == "__main__":
    main()

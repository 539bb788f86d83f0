"""The workloads: their inputs, operations and output checks.

An operation builds its DataFrame(s) through the engine's public entry
points and is then executed: ``collect`` (after forcing the physical
plan) or, for the Ethereum jobs, the JSON sink. Every check compares
against a computation made apart from the engine (``oracle.py``).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

import gen
import oracle

SF_DEDUP = 0.01         # 60k lineitems, 500 documents, 500 embeddings
EMB_BIG_ROWS = 52_000   # above queries.dedup.EMB_EXACT_ASSIGN_MAX (50,000)
ETH_SIZES = dict(n_tx=40_000, n_blocks=8_000, n_contracts=400, n_scams=150)

# Both read the embedding-assignment memo: the first builds it, the
# second reuses it.
VECTOR_OPS = ("embedding_neardup_pairs", "hard_negatives_celled")
# Family members in family order: the pair memo (built by the first,
# reused by the second), the label memo, and the embedding-assignment
# memo (built by the third, reused by the fourth).
DEDUP_OPS = ("minhash_lsh_dup_pairs", "dedup_survivors",
             "semantic_dedup_survivors", "hard_negatives_celled")
DEDUP_EMB_OPS = ("semantic_dedup_survivors", "hard_negatives_celled")


@dataclass
class Op:
    name: str
    build: Callable            # spark -> list[DataFrame]
    sink: bool = False         # executed through the JSON sink
    embedding: bool = False    # counted in emb.arrow_eval


@dataclass
class Workload:
    name: str
    inputs: str                              # generated input directory
    ops: list[Op] = field(default_factory=list)
    warm_passes: int = 2                     # untimed passes first
    timed_passes: int = 3                    # at least this many timed
    memo_family: bool = False                # dedup cold/warm split
    expected_failures: frozenset = frozenset()

    def expected(self) -> dict:
        """What the checks compare against (computed apart from the engine)."""
        return {}

    def register(self, spark) -> None:
        """One-time input registration (part of set-up)."""
        from bigdata_processing_spark import catalog
        catalog.register_views(spark, self.inputs)

    def check(self, op: Op, result, ctx: dict) -> str | None:
        raise NotImplementedError


def _once(d: str, make) -> None:
    """Generate into ``d`` unless an earlier run completed it."""
    if not os.path.exists(os.path.join(d, ".complete")):
        os.makedirs(d, exist_ok=True)
        make(d)
        open(os.path.join(d, ".complete"), "w").close()


def generate(name: str, work: str, seed: int) -> None:
    """Write the workload's inputs for ``seed`` (no engine code runs)."""
    if name == "dedup_family":
        _once(f"{work}/dedup-{seed}", lambda d: gen.star_tables(d, seed, SF_DEDUP))
    elif name == "vector_big":
        _once(f"{work}/vector-{seed}",
              lambda d: gen.big_embeddings(d, seed, EMB_BIG_ROWS))
    else:
        _once(f"{work}/ethereum-{seed}",
              lambda d: gen.ethereum_exports(d, seed, **ETH_SIZES))
        _once(f"{work}/ethereum-planted", gen.planted_fault_exports)


def _registry_ops(names, embedding=()) -> list[Op]:
    from bigdata_processing_spark.queries import bench_queries
    qs = bench_queries()
    return [Op(n, (lambda fn: lambda spark, d: [fn(spark, d)])(qs[n]),
               embedding=n in embedding) for n in names]


# ---------------------------------------------------------------------------
# dedup_family: DuckDB oracle twins
# ---------------------------------------------------------------------------

class OracleWorkload(Workload):
    """Registered queries checked against their DuckDB oracle twins. The
    oracle rows are computed once per input set and stored next to the
    inputs; ``recompute`` throws them away."""

    def oracle_path(self) -> str:
        return os.path.join(self.inputs, f"oracle-{self.name}.json")

    def compute_oracles(self, recompute: bool = False) -> dict:
        from bigdata_processing_spark.queries import all_oracles
        path = self.oracle_path()
        sqls = all_oracles()
        if not recompute and os.path.exists(path):
            with open(path) as f:
                stored = json.load(f)
            if all(stored.get(op.name, {}).get("sql") == sqls[op.name]
                   for op in self.ops):
                return stored
        out = {}
        for op in self.ops:
            cols, rows = oracle.duckdb_rows(self.inputs, sqls[op.name])
            out[op.name] = {"sql": sqls[op.name], "cols": cols,
                            "rows": oracle.json_safe(rows)}
        with open(path + ".tmp", "w") as f:
            json.dump(out, f)
        os.replace(path + ".tmp", path)
        return out

    def expected(self) -> dict:
        return {"oracle": self.compute_oracles()}

    def check(self, op, result, ctx):
        want = ctx["oracle"][op.name]
        cols, rows = result[0]
        return oracle.compare(cols, oracle.normalise(rows),
                              want["cols"], want["rows"])


def dedup_family(work: str, seed: int) -> Workload:
    from bigdata_processing_spark.queries.dedup import MEMO_FAMILY
    if not set(DEDUP_OPS) <= set(MEMO_FAMILY):
        raise RuntimeError("DEDUP_OPS names a query outside MEMO_FAMILY")
    return OracleWorkload("dedup_family", f"{work}/dedup-{seed}",
                          _registry_ops(DEDUP_OPS, DEDUP_EMB_OPS), memo_family=True)


# ---------------------------------------------------------------------------
# vector_big: numpy float64 recomputation
# ---------------------------------------------------------------------------

class VectorWorkload(Workload):
    def register(self, spark) -> None:
        from bigdata_processing_spark import catalog
        catalog.load_table(spark, self.inputs, "embeddings")

    def expected(self) -> dict:
        import pyarrow.parquet as pq

        from bigdata_processing_spark.thresholds import COSINE_NEARDUP_THRESHOLD
        t = pq.read_table(os.path.join(self.inputs, "embeddings.parquet"))
        ids = t.column("vec_id").to_numpy()
        flat = t.column("embedding").combine_chunks().flatten().to_numpy()
        E = np.empty((len(ids), gen.EMB_DIM))
        E[ids] = flat.reshape(len(ids), -1).astype(np.float64)
        labels = np.empty(len(ids), dtype=np.int64)
        labels[ids] = t.column("label").to_numpy()
        return {"truth": oracle.vector_truth(E, labels, COSINE_NEARDUP_THRESHOLD)}

    def check(self, op, result, ctx):
        cols, rows = result[0]
        return oracle.check_vector(op.name, [dict(zip(cols, r)) for r in rows],
                                   ctx["truth"])


def vector_big(work: str, seed: int) -> Workload:
    # passes of about 8 s that spread little: one warm-up and one timed
    # pass keep the run inside its share of the time budget
    return VectorWorkload("vector_big", f"{work}/vector-{seed}",
                          _registry_ops(VECTOR_OPS, VECTOR_OPS),
                          warm_passes=1, timed_passes=1, memo_family=True)


# ---------------------------------------------------------------------------
# ethereum_jobs: the six reference jobs through sources and the JSON sink
# ---------------------------------------------------------------------------

ETH_JOBS = ("monthly_transactions", "top10_contracts", "top10_miners",
            "scam_analysis", "gas_guzzlers", "data_overhead")


class EthereumWorkload(Workload):
    out_dir: str = ""
    planted: str = ""

    def expected(self) -> dict:
        return {"expected": oracle.ethereum_expected(self.inputs),
                "planted": oracle.ethereum_expected(self.planted)}

    def register(self, spark) -> None:
        from bigdata_processing_spark.pipelines import ethereum as eth
        d = self.inputs
        self.frames = {
            "tx": eth.load_transactions(spark, f"{d}/transactions.csv"),
            "contracts": eth.load_contracts(spark, f"{d}/contracts.csv"),
            "blocks": eth.load_blocks(spark, f"{d}/blocks.csv"),
            "scams": eth.load_scams(spark, f"{d}/scams.json"),
        }

    def job(self, name: str, spark) -> list:
        from bigdata_processing_spark.pipelines import ethereum as eth
        from bigdata_processing_spark.sources import read_json
        f = self.frames
        if name == "monthly_transactions":
            return [eth.monthly_transactions(f["tx"])]
        if name == "top10_contracts":
            return [eth.top10_contracts(f["tx"], f["contracts"])]
        if name == "top10_miners":
            return [eth.top10_miners(f["blocks"])]
        if name == "scam_analysis":
            return list(eth.scam_analysis(f["tx"], f["scams"]))
        if name == "gas_guzzlers":
            # the reference re-read its own top-10 output (contractsTop10.csv)
            top10 = read_json(spark, f"{self.out_dir}/top10_contracts.0",
                              "to_address STRING, total_value DOUBLE")
            return list(eth.gas_guzzlers(f["tx"], f["contracts"], top10))
        return [eth.data_overhead(f["blocks"])]

    def planted_op(self, spark) -> list:
        from bigdata_processing_spark.pipelines import ethereum as eth
        d = self.planted
        tx = eth.load_transactions(spark, f"{d}/transactions.csv")
        contracts = eth.load_contracts(spark, f"{d}/contracts.csv")
        blocks = eth.load_blocks(spark, f"{d}/blocks.csv")
        top10 = eth.top10_contracts(tx, contracts)
        return [eth.monthly_transactions(tx), top10, eth.top10_miners(blocks),
                eth.data_overhead(blocks),
                *eth.gas_guzzlers(tx, contracts, top10)]

    def check(self, op, result, ctx):
        if op.name == "planted_faults":
            keys = ("monthly_transactions.0", "top10_contracts.0", "top10_miners.0",
                    "data_overhead.0", "gas_guzzlers.0", "gas_guzzlers.1",
                    "gas_guzzlers.2")
            bad = [f"{key}: {b}" for key, (cols, rows) in zip(keys, result)
                   if (b := oracle.compare_lists([list(r) for r in rows],
                                                 ctx["planted"][key]))]
            return "; ".join(bad) or None
        for i in range(result):
            key = f"{op.name}.{i}"
            rows = []
            for p in sorted(glob.glob(f"{self.out_dir}/{key}/part-*")):
                with open(p) as f:
                    rows.extend(list(json.loads(ln).values()) for ln in f if ln.strip())
            bad = oracle.compare_lists(rows, ctx["expected"][key])
            if bad:
                return f"{key}: {bad}"
        return None


def ethereum_jobs(work: str, seed: int) -> Workload:
    w = EthereumWorkload("ethereum_jobs", f"{work}/ethereum-{seed}",
                         expected_failures=frozenset({"planted_faults"}))
    w.out_dir = f"{work}/ethereum-out"
    w.planted = f"{work}/ethereum-planted"
    w.ops = [Op(n, (lambda n: lambda spark, d: w.job(n, spark))(n), sink=True)
             for n in ETH_JOBS]
    w.ops.append(Op("planted_faults", lambda spark, d: w.planted_op(spark)))
    return w


# BENCHMARK.json lists ethereum_jobs and vector_big; dedup_family is run
# by hand (perfbench/README.md says why).
WORKLOADS = {
    "ethereum_jobs": ethereum_jobs,
    "dedup_family": dedup_family,
    "vector_big": vector_big,
}

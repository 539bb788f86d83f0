#!/usr/bin/env python3
"""Benchmark command: one workload per process, end-to-end or traced.

    python3 perfbench/run.py --workload ethereum_jobs --seed 1 --seconds 3 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_work/``; the engine is driven only through its public entry
points. A run sets the workload up three times, each time in a newly
launched JVM (``setup_s`` is the median), runs the workload's fixed
number of untimed warm-up passes, then whole timed passes for
``--seconds`` and at least the workload's fixed number of them, checking
every output of every timed pass.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(spans are also written to ``.perfbench_work/trace-<workload>-<seed>.json``).

    python3 perfbench/run.py --workload dedup_family --seed 1 --recompute-oracles

throws away the stored DuckDB oracle rows of that input set and
recomputes them.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import probes  # noqa: E402

SETUPS = 3
DRIVER_MEM = "2g"


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start_ticks / os.sysconf("SC_CLK_TCK")


def task_slots() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    from bigdata_processing_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    spark = get_spark("perfbench", master=f"local[{task_slots()}]", extra_conf={
        "spark.local.dir": tmp,
        # a fixed heap size (-Xms = -Xmx): the JVM's resident memory does
        # not depend on when the collector chose to grow the heap; the
        # serial collector: parallel collector threads spin while they
        # wait for each other, which on a shared 4-core host made cpu_s
        # vary
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+UseSerialGC",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the JVM the client launched and wait for it; its shutdown
    hook stops the SparkContext, the Python workers and removes Spark's
    temporary directories. The next ``start_session`` launches a new
    JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    SparkContext._active_spark_context = None
    SparkSession._instantiatedSession = SparkSession._activeSession = None


class Runner:
    def __init__(self, wl, spark, traced: bool):
        self.wl, self.spark = wl, spark
        self.tr = probes.Tracer(traced)
        self.traced = traced
        self.op_stats: list[dict] = []

    def clear(self) -> None:
        from bigdata_processing_spark.queries.dedup import clear_dedup_memos
        clear_dedup_memos()
        self.spark.catalog.clearCache()

    def run_op(self, op, tag: str) -> tuple[object, float]:
        from bigdata_processing_spark.sources.writers import write_json
        sc, tr = self.spark.sparkContext, self.tr
        group = f"{tag}.{op.name}"
        sc.setJobGroup(group, op.name)
        with tr.span("op", op=op.name, group=group):
            with tr.span("construct"):
                dfs = op.build(self.spark, self.wl.inputs)
            if op.sink:
                with tr.span("write"):
                    for i, df in enumerate(dfs):
                        write_json(df, f"{self.wl.out_dir}/{op.name}.{i}",
                                   single_file=True)
                result = len(dfs)
            else:
                with tr.span("plan"):
                    for df in dfs:
                        df._jdf.queryExecution().executedPlan()
                with tr.span("execute"):
                    result = [(df.columns, df.collect()) for df in dfs]
        if not self.traced:
            return result, 0.0
        t = time.perf_counter()
        stats = probes.group_metrics(sc, group)
        plans = [probes.plan_counts(df._jdf.queryExecution().executedPlan().toString())
                 for df in dfs]
        for k in probes.PLAN_OPS:
            stats[k] = sum(p[k] for p in plans)
        stats["emb.arrow_eval"] = stats["plan.arrow_eval"] if op.embedding else 0
        stats["cached_mb"] = probes.cached_mb(sc)
        self.op_stats.append({"tag": tag, "op": op.name, **stats})
        return result, time.perf_counter() - t

    def run_pass(self, tag: str, ops=None, clear_each: bool = False) -> dict:
        ops = self.wl.ops if ops is None else ops
        self.clear()
        # every pass starts from a collected heap: what earlier passes
        # promoted does not pile up in the old generation, so neither a
        # full collection nor the first touch of old-generation pages
        # lands in a later pass
        self.spark._jvm.System.gc()
        gc.collect()
        results, book = [], 0.0
        cpu0 = probes.cpu_by_role()
        t0 = time.perf_counter()
        with self.tr.span("pass", tag=tag):
            for op in ops:
                if clear_each:
                    self.clear()
                try:
                    res, b = self.run_op(op, tag)
                    book += b
                except Exception as e:   # counted as a failed operation
                    res = e
                results.append(res)
        wall = time.perf_counter() - t0 - book
        cpu1 = probes.cpu_by_role()
        cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
        return {"tag": tag, "wall": wall, "cpu": sum(cpu.values()),
                "cpu_roles": cpu, "results": results}

    def check(self, p: dict, ctx: dict) -> tuple[int, int, list[str]]:
        failed, wrong, notes = 0, 0, []
        with self.tr.span("check", tag=p["tag"]):
            for op, res in zip(self.wl.ops, p["results"]):
                bad = (f"raised {type(res).__name__}: {str(res)[:200]}"
                       if isinstance(res, Exception) else self.wl.check(op, res, ctx))
                if bad:
                    failed += 1
                    notes.append(f"{op.name}: {bad}")
                    if op.name not in self.wl.expected_failures:
                        wrong += 1
        return failed, wrong, notes


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--recompute-oracles", action="store_true")
    args = ap.parse_args()

    work = os.path.join(os.getcwd(), ".perfbench_work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sampler = probes.MemorySampler().start()
    excluded = 0.0       # benchmark-own work inside the first set-up window

    t = time.perf_counter()
    canary_before = probes.canary()
    import workloads
    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload}")
    workloads.generate(args.workload, work, args.seed)
    excluded += time.perf_counter() - t

    try:
        # set-up: process start .. ready. The interpreter start and the
        # imports happen once; the JVM launch with session.get_spark and
        # the input registration are repeated in a new JVM each time.
        import bigdata_processing_spark.session  # noqa: F401
        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        if args.recompute_oracles:
            if not hasattr(wl, "compute_oracles"):
                raise SystemExit(f"{wl.name} has no DuckDB oracles")
            wl.compute_oracles(recompute=True)
            print(f"oracle rows written to {wl.oracle_path()}")
            return 0
        once_s = process_age() - excluded
        setups, session_s = [], []
        for i in range(SETUPS):
            if i:
                stop_jvm()
            t = time.perf_counter()
            spark = start_session(work)
            session_s.append(time.perf_counter() - t)
            wl.register(spark)
            setups.append(once_s + time.perf_counter() - t)
        t = time.perf_counter()
        ctx = wl.expected()
        expected_s = time.perf_counter() - t

        runner = Runner(wl, spark, bool(args.trace))
        tr = runner.tr
        with tr.span("workload", workload=wl.name):
            warm = [runner.run_pass(f"warm{i}")["wall"]
                    for i in range(wl.warm_passes)]
            timed, attempted, failed, wrong, notes = [], 0, 0, 0, []
            t_timed = time.perf_counter()
            while (len(timed) < wl.timed_passes
                   or time.perf_counter() - t_timed < args.seconds):
                p = runner.run_pass(f"pass{len(timed)}")
                f, w, nt = runner.check(p, ctx)
                attempted += len(wl.ops)
                failed, wrong = failed + f, wrong + w
                notes.extend(nt)
                p.pop("results")
                timed.append(p)
            cold = None
            if args.trace and wl.memo_family:
                # each member alone, memos cleared before it (cold build)
                cold = runner.run_pass("cold", clear_each=True)
                cold.pop("results")
        canary_after = probes.canary()
    finally:
        t = time.perf_counter()
        stop_jvm()
        stop_s = time.perf_counter() - t
        peak = sampler.stop()

    med = statistics.median
    summary = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "canary_before_s": round(canary_before, 4),
        "canary_after_s": round(canary_after, 4),
        "setups_s": [round(x, 3) for x in setups], "once_s": round(once_s, 3),
        "inputs_s": round(excluded, 3), "expected_s": round(expected_s, 3),
        "stop_s": round(stop_s, 3),
        "warm_walls_s": [round(x, 3) for x in warm],
        "timed_walls_s": [round(p["wall"], 3) for p in timed],
        "failures": sorted(set(notes)),
    }
    print("# " + json.dumps(summary))
    if args.trace:
        metrics = per_layer(runner, timed, cold, session_s)
        with open(os.path.join(work, f"trace-{wl.name}-{args.seed}.json"), "w") as f:
            json.dump({"summary": summary, "spans": tr.spans,
                       "ops": runner.op_stats}, f)
    else:
        metrics = {
            "setup_s": {"value": med(setups), "unit": "s"},
            "pass_wall_s": {"value": med([p["wall"] for p in timed]), "unit": "s"},
            "cpu_s": {"value": med([p["cpu"] for p in timed]), "unit": "s"},
            "peak_rss_mb": {"value": peak, "unit": "MB"},
        }
    print(json.dumps({"correct": wrong == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def per_layer(runner: Runner, timed: list[dict], cold, session_s) -> dict:
    """Per-layer metrics: medians over the timed passes of span self
    times, status-store sums and plan-shape counts."""
    tr = runner.tr
    self_t = tr.self_times()
    pass_of: dict[int, str] = {}
    for i, s in enumerate(tr.spans):
        if s["name"] == "pass":
            pass_of[i] = s["tag"]
        elif s["parent"] is not None and s["parent"] in pass_of:
            pass_of[i] = pass_of[s["parent"]]
    tags = [p["tag"] for p in timed]
    per_pass = {t: {} for t in tags}
    for i, s in enumerate(tr.spans):
        tag = pass_of.get(i)
        if tag in per_pass and s["name"] in ("construct", "plan", "execute", "write"):
            k = {"execute": "exec_s"}.get(s["name"], s["name"] + "_s")
            per_pass[tag][k] = per_pass[tag].get(k, 0.0) + self_t[i]
    for o in runner.op_stats:
        if o["tag"] not in per_pass:
            continue
        acc = per_pass[o["tag"]]
        for k, v in o.items():
            if k in ("tag", "op"):
                continue
            if k in ("peak_exec_mem_mb", "cached_mb"):
                acc[k] = max(acc.get(k, 0.0), v)
            else:
                acc[k] = acc.get(k, 0.0) + v
    slots = task_slots()
    for p in timed:
        acc = per_pass[p["tag"]]
        acc["slot_busy"] = acc.get("task_run_s", 0.0) / (p["wall"] * slots)
        for role, v in p["cpu_roles"].items():
            acc[f"{role}_cpu_s"] = v
        acc["warm_s"] = p["wall"] if cold is not None else 0.0
        acc["cold_s"] = cold["wall"] if cold is not None else 0.0
    units = {"jobs": "count", "stages": "count", "stages_skipped": "count",
             "tasks": "count", "tasks_failed": "count", "input_rows": "count",
             "slot_busy": "ratio"}
    names = (["session.start_s", "construct_s", "plan_s", "exec_s", "write_s"]
             + list(probes.STAGE_KEYS) + ["slot_busy", "cached_mb", "cold_s",
             "warm_s", "client_cpu_s", "jvm_cpu_s", "pyworker_cpu_s"]
             + list(probes.PLAN_OPS) + ["emb.arrow_eval"])
    out = {}
    for n in names:
        if n == "session.start_s":
            v = statistics.median(session_s)
        else:
            v = statistics.median(per_pass[t].get(n, 0.0) for t in tags)
        unit = units.get(n, "count" if n.startswith(("plan.", "emb.")) else
                         "MB" if n.endswith("_mb") else "s")
        out[n] = {"value": v, "unit": unit}
    return out


if __name__ == "__main__":
    sys.exit(main())

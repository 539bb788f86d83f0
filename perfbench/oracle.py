"""Output checks made apart from the engine.

- ``duckdb_rows`` runs a query's DuckDB oracle twin over the same
  generated parquet files; ``compare`` applies the oracle contract
  (same column names, integers equal, floats within 1e-6 relative,
  rows order-insensitive).
- ``ethereum_expected`` recomputes the six jobs in plain Python from the
  export lines, each with the line validator its reference job used
  (SURVEY.md section 2.2, F1-F7).
- ``check_vector`` recomputes every reported cosine of the big-regime
  embedding queries in numpy float64 and checks the properties each
  method must have.
"""

from __future__ import annotations

import json
import math
import time
from collections import defaultdict

import numpy as np

REL_TOL = 1e-6
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


# ---------------------------------------------------------------------------
# DuckDB oracle contract
# ---------------------------------------------------------------------------

def duckdb_rows(sf_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def _key(v):
    if v is None:
        return ("",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        f = float(v)
        if math.isnan(f):
            return ("nan",)
        return ("f", float(f"{f:.6g}"))
    return (type(v).__name__, str(v))


def _eq(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=REL_TOL, abs_tol=1e-9)
    return str(a) == str(b)


def compare(cols: list[str], rows: list[tuple],
            o_cols: list[str], o_rows: list) -> str | None:
    """None when the engine's (cols, rows) meet the oracle contract
    against the oracle's, else a one-line description of the mismatch."""
    lower = [c.lower() for c in cols]
    if sorted(lower) != sorted(c.lower() for c in o_cols):
        return f"columns {cols} != {o_cols}"
    idx = [lower.index(c.lower()) for c in o_cols]
    return compare_lists([[r[i] for i in idx] for r in rows], o_rows)


def compare_lists(got: list[list], want: list[list]) -> str | None:
    """Order-insensitive row comparison under the same value contract."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    def key(r):
        return tuple(_key(v) for v in r)
    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(a) != len(b) or not all(_eq(x, y) for x, y in zip(a, b)):
            return f"{a!r} != {b!r}"
    return None


def json_safe(rows: list[tuple]) -> list[list]:
    """Oracle rows in a JSON-storable form that compares equal under
    ``compare`` (timestamps and decimals as text)."""
    def conv(v):
        if v is None or isinstance(v, (bool, int, float, str)):
            return v
        if isinstance(v, (list, tuple)):
            return [conv(x) for x in v]
        if isinstance(v, dict):
            return {str(k): conv(x) for k, x in v.items()}
        return str(v)
    return [[conv(v) for v in r] for r in rows]


def normalise(rows: list[tuple]) -> list[list]:
    """Engine rows through the same conversion as the stored oracle."""
    return json_safe([tuple(r.asDict(recursive=True).values())
                      if hasattr(r, "asDict") else tuple(r) for r in rows])


# ---------------------------------------------------------------------------
# Ethereum jobs, recomputed from the export lines
# ---------------------------------------------------------------------------
# Each job is recomputed with the line validator its reference job used
# (SURVEY.md section 2.2), not with the engine's loaders:
#   monthly_transactions  F1  15 fields, float value and timestamp
#   top10_contracts       F2  15 fields, "0x" receiver, float value; F3 contracts
#   top10_miners          F5  19 fields, float size
#   scam_analysis         F1  (SURVEY names no validator of its own)
#   gas_guzzlers          F6  15 fields, float gas price and timestamp; F7 contracts
#   data_overhead         F4  19 fields, non-empty miner, int number, float size

def _float(s: str) -> float | None:
    try:
        return float(s)
    except ValueError:
        return None


def _int(s: str) -> int | None:
    try:
        return int(s)
    except ValueError:
        return None


def _month(ts: float) -> str:
    return time.strftime("%m-%Y", time.gmtime(ts))


def _fields(path: str) -> list[list[str]]:
    with open(path) as f:
        return [ln.rstrip("\n").split(",") for ln in f]


def _tx_f1(p) -> bool:
    return len(p) == 15 and _float(p[7]) is not None and _float(p[11]) is not None


def _tx_f2(p) -> bool:
    return len(p) == 15 and p[6].startswith("0x") and _float(p[7]) is not None


def _tx_f6(p) -> bool:
    return len(p) == 15 and _float(p[9]) is not None and _float(p[11]) is not None


def _block_f4(p) -> bool:
    return (len(p) == 19 and p[9] != "" and _int(p[0]) is not None
            and _float(p[12]) is not None)


def _block_f5(p) -> bool:
    return len(p) == 19 and _float(p[12]) is not None


def _avg_by_month(pairs) -> list[list]:
    acc: dict[str, list[float]] = defaultdict(lambda: [0.0, 0])
    for m, x in pairs:
        acc[m][0] += x
        acc[m][1] += 1
    return [[m, s / n] for m, (s, n) in acc.items()]


def _top(totals: dict, k: int) -> list[list]:
    return [[a, v] for a, v in sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]


def ethereum_expected(d: str) -> dict[str, list[list]]:
    """Expected rows of every job output over the exports in ``d``, keyed
    like the engine outputs (``<job>.<i>``), each row in the output's
    column order. ``scam_analysis`` is left out when ``d`` has no
    scams.json."""
    tx = _fields(f"{d}/transactions.csv")
    blocks = _fields(f"{d}/blocks.csv")
    contracts = _fields(f"{d}/contracts.csv")
    exp: dict[str, list[list]] = {}

    monthly: dict[str, list] = defaultdict(lambda: [0, 0.0])
    for p in filter(_tx_f1, tx):
        m = monthly[_month(float(p[11]))]
        m[0] += 1
        m[1] += float(p[7])
    exp["monthly_transactions.0"] = [[m, n, s / n] for m, (n, s) in monthly.items()]

    f3 = {p[0] for p in contracts if len(p) == 6 and p[0].startswith("0x")}
    recv: dict[str, float] = defaultdict(float)
    for p in filter(_tx_f2, tx):
        if p[6] in f3:
            recv[p[6]] += float(p[7])
    exp["top10_contracts.0"] = _top(recv, 10)
    top_set = {a for a, _ in exp["top10_contracts.0"]}

    size: dict[str, float] = defaultdict(float)
    for p in filter(_block_f5, blocks):
        size[p[9]] += float(p[12])
    exp["top10_miners.0"] = _top(size, 10)

    exp["data_overhead.0"] = [[sum((len(h) - 2) * 4 for p in filter(_block_f4, blocks)
                                   for h in p[4:9])]]

    f7 = {p[0] for p in contracts if len(p) == 6}
    f6 = [(_month(float(p[11])), p[6], float(p[8]), float(p[9]))
          for p in filter(_tx_f6, tx)]
    exp["gas_guzzlers.0"] = _avg_by_month((m, gp) for m, _, _, gp in f6)
    exp["gas_guzzlers.1"] = _avg_by_month((m, gas) for m, to, gas, _ in f6 if to in f7)
    exp["gas_guzzlers.2"] = _avg_by_month((m, gas) for m, to, gas, _ in f6
                                          if to in f7 and to in top_set)

    try:
        scam_lines = open(f"{d}/scams.json").readlines()
    except FileNotFoundError:
        return exp
    by_addr: dict[str, list[tuple[int, str]]] = defaultdict(list)
    for line in scam_lines:
        for rec in json.loads(line)["result"].values():
            for a in rec["addresses"]:
                by_addr[a].append((rec["id"], rec["category"]))
    per_id: dict[int, float] = defaultdict(float)
    per_cat: dict[str, float] = defaultdict(float)
    series: dict[tuple[str, str], float] = defaultdict(float)
    for p in filter(_tx_f1, tx):
        v = float(p[7])
        for sid, cat in by_addr.get(p[6], ()):
            per_id[sid] += v
            per_cat[cat] += v
            series[(_month(float(p[11])), cat)] += v
    exp["scam_analysis.0"] = _top(per_id, 1)
    exp["scam_analysis.1"] = _top(per_cat, 1)
    exp["scam_analysis.2"] = [[m, c, v] for (m, c), v in series.items()]
    return exp


# ---------------------------------------------------------------------------
# big-regime embedding queries
# ---------------------------------------------------------------------------

def _cos(E: np.ndarray, a, b) -> np.ndarray:
    a, b = np.asarray(a, dtype=np.int64), np.asarray(b, dtype=np.int64)
    return np.einsum("ij,ij->i", E[a], E[b]) / (
        np.linalg.norm(E[a], axis=1) * np.linalg.norm(E[b], axis=1))


def _close(got, want) -> bool:
    return bool(np.all(np.abs(np.asarray(got, float) - want)
                       <= REL_TOL * np.abs(want) + 1e-12))


def _ranked(rows) -> bool:
    """Per query: rn runs 1..k and cosines do not increase with rn."""
    by: dict = defaultdict(list)
    for r in rows:
        by[r["qid"]].append((r["rn"], r["cos_sim"]))
    for lst in by.values():
        lst.sort()
        if [x[0] for x in lst] != list(range(1, len(lst) + 1)):
            return False
        if any(lst[i][1] < lst[i + 1][1] for i in range(len(lst) - 1)):
            return False
    return True


# Completeness floors of the approximate big-regime methods, checked on
# every run. Measured on seeds 1 and 2: 96 % of the same-label pairs at
# cosine >= 0.95 (the planted near-duplicates) came back as pairs, and
# the hard-negative lists held 28 % of the exact top-3 (seeds 1-3).
DUP_COS = 0.95
PAIR_RECALL_MIN = 0.85
HARD_K, ANCHOR_EVERY = 3, 100
HARD_RECALL_MIN = 0.2


def vector_truth(E: np.ndarray, labels: np.ndarray, threshold: float) -> dict:
    """What the big-regime checks compare against, in float64: the
    same-label pairs at cosine >= DUP_COS, and for every anchor
    (vec_id % ANCHOR_EVERY == 0) its exact top-HARD_K neighbours of a
    different label."""
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    dups = set()
    for lab in np.unique(labels):
        idx = np.flatnonzero(labels == lab)
        for lo in range(0, len(idx), 2048):
            S = En[idx[lo:lo + 2048]] @ En[idx].T
            i, j = np.nonzero(S >= DUP_COS)
            a, b = idx[lo + i], idx[j]
            dups.update(zip(a[a < b].tolist(), b[a < b].tolist()))
    hard = {}
    q = np.arange(0, len(E), ANCHOR_EVERY)
    for lo in range(0, len(q), 64):
        qb = q[lo:lo + 64]
        S = En[qb] @ En.T
        S[labels[qb][:, None] == labels[None, :]] = -np.inf
        top = np.argsort(-S, axis=1, kind="stable")[:, :HARD_K]
        hard.update((int(a), set(t.tolist())) for a, t in zip(qb, top))
    return {"E": E, "labels": labels, "threshold": threshold, "dups": dups,
            "hard": hard}


def check_vector(name: str, rows: list[dict], truth: dict) -> str | None:
    """Checks one big-regime query's rows (as dicts): every reported
    cosine, the properties the method must have, and completeness."""
    if not rows:
        return "no rows"
    E, labels = truth["E"], truth["labels"]
    if name == "embedding_neardup_pairs":
        v1 = [r["v1"] for r in rows]
        v2 = [r["v2"] for r in rows]
        cos = _cos(E, v1, v2)
        if not _close([r["cos_sim"] for r in rows], cos):
            return "cosine off by more than 1e-6 relative"
        if np.any(cos < truth["threshold"]) or any(a >= b for a, b in zip(v1, v2)):
            return "pair below threshold or unordered"
        if any(labels[r["v1"]] != r["label"] or labels[r["v2"]] != r["label"]
               for r in rows):
            return "pair label mismatch"
        if len(set(zip(v1, v2))) != len(rows):
            return "duplicate pair"
        found = len(truth["dups"] & set(zip(v1, v2))) / max(1, len(truth["dups"]))
        if found < PAIR_RECALL_MIN:
            return (f"{found:.3f} of the {len(truth['dups'])} same-label pairs at "
                    f"cosine >= {DUP_COS} found, below {PAIR_RECALL_MIN}")
        return None
    if name == "hard_negatives_celled":
        cos = _cos(E, [r["qid"] for r in rows], [r["cid"] for r in rows])
        if not _close([r["cos_sim"] for r in rows], cos):
            return "cosine off by more than 1e-6 relative"
        if not _ranked(rows):
            return "neighbour list not sorted by cosine"
        lists: dict = defaultdict(set)
        for r in rows:
            if labels[r["cid"]] != r["clabel"] or r["clabel"] == labels[r["qid"]]:
                return f"anchor {r['qid']}: neighbour {r['cid']} label wrong"
            lists[r["qid"]].add(r["cid"])
        if set(lists) != set(truth["hard"]):
            return f"{len(lists)} anchors answered, {len(truth['hard'])} asked"
        if any(len(c) != HARD_K for c in lists.values()) or len(rows) != HARD_K * len(lists):
            return f"an anchor without {HARD_K} distinct neighbours"
        found = np.mean([len(lists[q] & t) / HARD_K for q, t in truth["hard"].items()])
        if found < HARD_RECALL_MIN:
            return f"top-{HARD_K} recall {found:.3f} below {HARD_RECALL_MIN}"
        return None
    return f"no check for {name}"

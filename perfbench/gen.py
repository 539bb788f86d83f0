"""Seeded input generators for the benchmark workloads.

Every generator takes the run's seed and writes plain files (parquet,
CSV, JSON lines); the engine only ever sees those files. The same seed
gives byte-identical inputs. Generation is not part of any timed metric.

- ``star_tables``: the ten fixture tables (region .. embeddings) with the
  schemas and value distributions of the project's sf fixtures
  (FIXTURES.md section B), at a chosen row scale.
- ``big_embeddings``: more than ``EMB_EXACT_ASSIGN_MAX`` unit vectors in
  loose clusters, with planted near-duplicates.
- ``ethereum_exports``: transactions / contracts / blocks CSV and scams
  JSON lines in the reference's export layouts, with a known number of
  malformed lines of each kind the loaders drop.
- ``planted_fault_exports``: tiny fixed (seed-independent) exports
  holding the lines on which the engine's loaders and the reference
  validators disagree.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMB_DIM = 64


def _write(path: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), path)


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array((base + d).astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _unit_rows(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _emb_array(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def _documents(rng, n: int) -> dict[str, pa.Array]:
    """Random word soup; exactly 5 % of the documents are a copy of an
    earlier one plus " dup" and 1 % an exact copy."""
    picks = rng.permutation(np.arange(10, n))
    near = set(picks[: n // 20].tolist())
    exact = set(picks[n // 20: n // 20 + n // 100].tolist())
    texts: list[str] = []
    for i in range(n):
        if i in near:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i in exact:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(6, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def star_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten fixture tables at scale ``sf`` (sf0.1 = 600k
    lineitems, 5,000 documents, 2,000 embeddings)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(50, int(15_000 * sf))
    n_docs, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]),
    })
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            rng.integers(0, 8, (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
    })
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]),
    })
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    _write(f"{out_dir}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    _write(f"{out_dir}/documents.parquet", _documents(rng, n_docs))
    vecs, labels = _small_embeddings(rng, n_emb)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": _emb_array(vecs),
        "label": pa.array(labels),
    })


def _small_embeddings(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Random unit vectors with random labels 0..9, redrawn until no two
    of one label reach cosine 0.35; then n // 25 of them are replaced by
    a lightly perturbed copy (same label) of as many others. The
    near-duplicate graph is then exactly n // 25 disjoint pairs for every
    seed, so the work of the connected-components queries does not
    change with the seed."""
    vecs = _unit_rows(rng.standard_normal((n, EMB_DIM)))
    labels = rng.integers(0, 10, n, dtype=np.int32)
    while True:
        close = np.triu((vecs @ vecs.T >= 0.35) & (labels[:, None] == labels), 1)
        redraw = np.unique(np.nonzero(close)[1])
        if not len(redraw):
            break
        vecs[redraw] = _unit_rows(rng.standard_normal((len(redraw), EMB_DIM)))
    k = n // 25
    pick = rng.permutation(n)
    src, dst = pick[:k], pick[k:2 * k]
    vecs[dst] = _unit_rows(vecs[src] + 0.02 * rng.standard_normal((k, EMB_DIM)))
    labels[dst] = labels[src]
    return vecs, labels


def big_embeddings(out_dir: str, seed: int, n: int) -> None:
    """``n`` unit vectors: each one of 64 cluster centres plus isotropic
    noise (cosine to its centre about 0.34), with 2 % of them replaced by
    a lightly perturbed copy of another vector (planted near-duplicates,
    cosine above 0.95)."""
    rng = np.random.default_rng([seed, 2])
    centres = _unit_rows(rng.standard_normal((64, EMB_DIM)))
    member = rng.integers(0, 64, n)
    vecs = _unit_rows(centres[member] + 0.35 * rng.standard_normal((n, EMB_DIM)))
    n_dup = n // 50
    dst = rng.choice(n, n_dup, replace=False)
    src = rng.integers(0, n, n_dup)
    vecs[dst] = _unit_rows(vecs[src] + 0.01 * rng.standard_normal((n_dup, EMB_DIM)))
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": _emb_array(vecs),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


# ---------------------------------------------------------------------------
# Ethereum exports (FIXTURES.md section A layouts)
# ---------------------------------------------------------------------------

TX_HEADER = ("hash,nonce,block_hash,block_number,transaction_index,from_address,"
             "to_address,value,gas,gas_price,input,block_timestamp,"
             "max_fee_per_gas,max_priority_fee_per_gas,transaction_type")
CONTRACT_HEADER = "address,bytecode,function_sighashes,is_erc20,is_erc721,block_number"
BLOCK_HEADER = ("number,hash,parent_hash,nonce,sha3_uncles,logs_bloom,"
                "transactions_root,state_root,receipts_root,miner,difficulty,"
                "total_difficulty,size,extra_data,gas_limit,gas_used,timestamp,"
                "transaction_count,base_fee_per_gas")

# Malformed lines planted in every generated export, per kind. On each
# kind the engine agrees with the validator of every reference job that
# reads the file (SURVEY.md section 2.2): a transactions line with an
# unparsable value and gas price, or an unparsable timestamp and value,
# is dropped by F1, F2 and F6; a receiver without "0x" is dropped by F2
# (top-10 contracts) only; a blocks line with an unparsable size by F4
# and F5; an empty miner by F4, while F5 (top-10 miners) keeps it, and
# the four such lines of size 1,234 stay far below the tenth miner. The
# kinds on which the engine and a reference validator disagree are in
# the fixed planted-fault files below.
BAD_TX_VALUE, BAD_TX_TS, BAD_TX_PREFIX = 7, 5, 9
BAD_BLOCK_SIZE, BAD_BLOCK_MINER = 6, 4

TS_LO, TS_HI = 1_438_300_000, 1_561_900_000   # 2015-07 .. 2019-06


def _hex(rng, nbytes: int) -> str:
    return "0x" + rng.bytes(nbytes).hex()


def _tx_line(rng, i: int, to: str, value: str, ts: str,
             gas_price: str | None = None) -> str:
    gas = str(int(rng.integers(21_000, 500_000)))
    gp = str(int(rng.integers(1, 200)) * 10**9)
    return ",".join([
        _hex(rng, 8), str(i % 97), _hex(rng, 8), str(i // 50), str(i % 50),
        _hex(rng, 6), to, value, gas, gp if gas_price is None else gas_price,
        "0x", ts, "", "", "0",
    ])


def _block_line(rng, number, miner: str, size: str) -> str:
    hexes = [_hex(rng, int(rng.integers(8, 40))) for _ in range(5)]
    return ",".join([
        str(number), _hex(rng, 8), _hex(rng, 8), _hex(rng, 4), *hexes, miner,
        str(int(rng.integers(1, 10**6))), str(int(rng.integers(1, 10**9))),
        size, "0x", "8000000", str(int(rng.integers(0, 8_000_000))),
        str(int(rng.integers(TS_LO, TS_HI))), str(int(rng.integers(0, 300))), "",
    ])


def ethereum_exports(out_dir: str, seed: int, n_tx: int, n_blocks: int,
                     n_contracts: int, n_scams: int) -> None:
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    addrs = [_hex(rng, 6) for _ in range(max(50, n_tx // 40))]
    contracts = addrs[:n_contracts]
    # power-law receivers: a few addresses take most transactions
    rank_p = 1.0 / np.arange(1, len(addrs) + 1) ** 1.1
    rank_p /= rank_p.sum()

    to_idx = rng.choice(len(addrs), n_tx, p=rank_p)
    values = rng.integers(0, 10**6, n_tx) * 10.0 ** rng.integers(12, 20, n_tx)
    stamps = rng.integers(TS_LO, TS_HI, n_tx)
    lines = [TX_HEADER]
    for i in range(n_tx):
        lines.append(_tx_line(rng, i, addrs[to_idx[i]], repr(float(values[i])),
                              str(stamps[i])))
    for kind, count in (("value", BAD_TX_VALUE), ("ts", BAD_TX_TS),
                        ("prefix", BAD_TX_PREFIX)):
        for _ in range(count):
            to = addrs[int(rng.integers(0, len(addrs)))]
            value, ts = "1.0e18", str(int(rng.integers(TS_LO, TS_HI)))
            gas_price = None
            if kind == "value":
                value, gas_price = "notanumber", "notaprice"
            elif kind == "ts":
                value, ts = "notanumber", "notatime"
            else:
                to = to[2:]
            pos = int(rng.integers(1, len(lines)))
            lines.insert(pos, _tx_line(rng, n_tx, to, value, ts, gas_price))
    with open(f"{out_dir}/transactions.csv", "w") as f:
        f.write("\n".join(lines) + "\n")

    with open(f"{out_dir}/contracts.csv", "w") as f:
        f.write(CONTRACT_HEADER + "\n")
        for i, a in enumerate(contracts):
            f.write(f"{a},0x6080,,{'true' if i % 3 else 'false'},false,{i}\n")

    miners = [_hex(rng, 6) for _ in range(40)]
    miner_p = rng.dirichlet(np.full(len(miners), 0.5))
    miner_idx = rng.choice(len(miners), n_blocks, p=miner_p)
    sizes = rng.integers(500, 60_000, n_blocks)
    lines = [BLOCK_HEADER]
    for b in range(n_blocks):
        lines.append(_block_line(rng, b, miners[miner_idx[b]], str(sizes[b])))
    for kind, count in (("size", BAD_BLOCK_SIZE), ("miner", BAD_BLOCK_MINER)):
        for _ in range(count):
            miner, size = miners[0], "1234"
            if kind == "size":
                size = "notasize"
            else:
                miner = ""
            lines.insert(int(rng.integers(1, len(lines))),
                         _block_line(rng, n_blocks, miner, size))
    with open(f"{out_dir}/blocks.csv", "w") as f:
        f.write("\n".join(lines) + "\n")

    cats = ("Phishing", "Scamming", "Fake ICO")
    with open(f"{out_dir}/scams.json", "w") as f:
        for s in range(n_scams):
            k = int(rng.integers(1, 4))
            scam_addrs = [addrs[int(j)] for j in rng.integers(0, len(addrs), k)]
            rec = {"id": 1000 + s, "addresses": scam_addrs,
                   "status": "Active", "category": cats[s % 3]}
            f.write(json.dumps({"result": {scam_addrs[0]: rec}}) + "\n")


# Fixed planted-fault files (the same for every seed): lines on which
# the engine's loaders and a reference job's validator disagree.
#   transactions: 3 good lines to contract 0xabc; a 12-field line (kept
#   by the engine, dropped by F1/F2/F6); an unparsable value with a good
#   gas price (dropped by the engine, kept by F6); an unparsable
#   timestamp with a good value (dropped by the engine, kept by F2).
#   blocks: 3 good lines of miner 0xb; a 13-field line (kept by the
#   engine, dropped by F4/F5); a non-integer number (kept by the engine,
#   dropped by F4); an empty miner (dropped by the engine, kept by F5).
def planted_fault_exports(out_dir: str) -> None:
    rng = np.random.default_rng(7)
    os.makedirs(out_dir, exist_ok=True)
    lines = [BLOCK_HEADER]
    for b, size in enumerate(("1", "2", "2")):
        lines.append(_block_line(rng, b, "0xb", size))
    short = _block_line(rng, 3, "0xb", "8").split(",")
    lines.append(",".join(short[:13]))                # 13 fields
    lines.append(_block_line(rng, "notint", "0xb", "8"))
    lines.append(_block_line(rng, 5, "", "50"))
    with open(f"{out_dir}/blocks.csv", "w") as f:
        f.write("\n".join(lines) + "\n")
    lines = [TX_HEADER]
    for i in range(3):
        lines.append(_tx_line(rng, i, "0xabc", "1.0e18", str(1_500_000_000 + i),
                              gas_price=str((i + 1) * 10**9)))
    short = _tx_line(rng, 3, "0xabc", "1.0e18", "1500000003",
                     gas_price=str(10 * 10**9)).split(",")
    lines.append(",".join(short[:12]))                # 12 fields
    lines.append(_tx_line(rng, 4, "0xabc", "notanumber", "1500000004",
                          gas_price=str(20 * 10**9)))
    lines.append(_tx_line(rng, 5, "0xabc", "5.0e18", "notatime",
                          gas_price=str(30 * 10**9)))
    with open(f"{out_dir}/transactions.csv", "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(f"{out_dir}/contracts.csv", "w") as f:
        f.write(CONTRACT_HEADER + "\n0xabc,0x6080,,true,false,1\n")

"""Golden tests for the six reference-parity pipelines: tiny synthetic
CSV/JSON fixtures with hand-computed expected outputs (the reference's
own correctness strategy — committed golden outputs, SURVEY.md §5 —
shrunk to unit size)."""

from __future__ import annotations

import json
import math
import os

import pytest

from bigdata_processing_spark.pipelines import (
    data_overhead,
    gas_guzzlers,
    monthly_transactions,
    scam_analysis,
    top10_contracts,
    top10_miners,
)
from bigdata_processing_spark.pipelines.ethereum import (
    exact_value_mode,
    load_blocks,
    load_contracts,
    load_scams,
    load_transactions,
)

# timestamps: 2018-01-15 and 2018-02-15 UTC
TS_JAN = 1515974400.0
TS_FEB = 1518652800.0

TX_HEADER = (
    "hash,nonce,block_hash,block_number,transaction_index,from_address,"
    "to_address,value,gas,gas_price,input,block_timestamp,"
    "max_fee_per_gas,max_priority_fee_per_gas,transaction_type"
)


def _tx(h, to, value, gas, gas_price, ts):
    return f"{h},1,0xb,1,0,0xfrom,{to},{value},{gas},{gas_price},0x,{ts},,,0"


@pytest.fixture(scope="module")
def fixture_paths(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("eth"))

    tx_lines = [
        TX_HEADER,
        _tx("0x1", "0xaaa", 100.0, 10.0, 2.0, TS_JAN),
        _tx("0x2", "0xaaa", 200.0, 20.0, 4.0, TS_JAN),
        _tx("0x3", "0xbbb", 50.0, 30.0, 6.0, TS_FEB),
        _tx("0x4", "0xccc", 400.0, 40.0, 8.0, TS_FEB),   # non-contract addr
        "0xbad,1,0xb,1,0,0xfrom,0xaaa,notafloat,1,1,0x,alsobad,,,0",  # dropped
    ]
    tx_path = os.path.join(root, "transactions.csv")
    with open(tx_path, "w") as f:
        f.write("\n".join(tx_lines) + "\n")

    ct_lines = [
        "address,bytecode,function_sighashes,is_erc20,is_erc721,block_number",
        "0xaaa,0x60,sig,True,False,1",
        "0xbbb,0x60,sig,False,False,2",
    ]
    ct_path = os.path.join(root, "contracts.csv")
    with open(ct_path, "w") as f:
        f.write("\n".join(ct_lines) + "\n")

    bk_header = (
        "number,hash,parent_hash,nonce,sha3_uncles,logs_bloom,"
        "transactions_root,state_root,receipts_root,miner,difficulty,"
        "total_difficulty,size,extra_data,gas_limit,gas_used,timestamp,"
        "transaction_count,base_fee_per_gas"
    )

    def _bk(num, miner, size):
        # five hex cols of total string length (2+4)*5 → waste (4*4)*5 bits
        return (
            f"{num},0xh,0xp,0xn,0x1111,0x1111,0x1111,0x1111,0x1111,"
            f"{miner},1,1,{size},0x,100,50,{TS_JAN},2,"
        )

    bk_path = os.path.join(root, "blocks.csv")
    with open(bk_path, "w") as f:
        f.write("\n".join([bk_header, _bk(1, "0xm1", 500.0), _bk(2, "0xm2", 300.0),
                           _bk(3, "0xm1", 200.0)]) + "\n")

    scam_path = os.path.join(root, "scams.json")
    with open(scam_path, "w") as f:
        f.write(json.dumps({
            "result": {
                "s1": {"id": 7, "addresses": ["0xaaa"], "status": "Active",
                        "category": "Phishing"},
                "s2": {"id": 8, "addresses": ["0xbbb", "0xzzz"], "status": "Active",
                        "category": "Scamming"},
            }
        }) + "\n")

    return {"tx": tx_path, "ct": ct_path, "bk": bk_path, "scam": scam_path}


def test_monthly_transactions(spark, fixture_paths):
    tx = load_transactions(spark, fixture_paths["tx"])
    rows = {r.month: (r.txn_count, r.avg_value)
            for r in monthly_transactions(tx).collect()}
    assert rows == {"01-2018": (2, 150.0), "02-2018": (2, 225.0)}


def test_top10_contracts(spark, fixture_paths):
    tx = load_transactions(spark, fixture_paths["tx"])
    ct = load_contracts(spark, fixture_paths["ct"])
    rows = [(r.to_address, r.total_value) for r in top10_contracts(tx, ct).collect()]
    # 0xccc is not a contract → excluded; 0xaaa=300, 0xbbb=50
    assert rows == [("0xaaa", 300.0), ("0xbbb", 50.0)]


def test_top10_miners(spark, fixture_paths):
    bk = load_blocks(spark, fixture_paths["bk"])
    rows = [(r.miner, r.total_size) for r in top10_miners(bk).collect()]
    assert rows == [("0xm1", 700.0), ("0xm2", 300.0)]


def test_scam_analysis(spark, fixture_paths):
    tx = load_transactions(spark, fixture_paths["tx"])
    sc = load_scams(spark, fixture_paths["scam"])
    lid, lcat, series = scam_analysis(tx, sc)
    assert [(r.scam_id, r.total_value) for r in lid.collect()] == [(7, 300.0)]
    assert [(r.category, r.total_value) for r in lcat.collect()] == [("Phishing", 300.0)]
    got = {(r.month, r.category): r.total_value for r in series.collect()}
    assert got == {("01-2018", "Phishing"): 300.0, ("02-2018", "Scamming"): 50.0}


def test_gas_guzzlers(spark, fixture_paths):
    tx = load_transactions(spark, fixture_paths["tx"])
    ct = load_contracts(spark, fixture_paths["ct"])
    top10 = top10_contracts(tx, ct).select("to_address")
    price, used, topgas = gas_guzzlers(tx, ct, top10)
    assert {r.month: r.avg_gas_price for r in price.collect()} == {
        "01-2018": 3.0, "02-2018": 7.0
    }
    # contract txns: jan 0xaaa gas 10,20 → 15; feb 0xbbb gas 30 → 30
    assert {r.month: r.avg_gas_used for r in used.collect()} == {
        "01-2018": 15.0, "02-2018": 30.0
    }
    assert {r.month: r.avg_gas for r in topgas.collect()} == {
        "01-2018": 15.0, "02-2018": 30.0
    }


def test_data_overhead(spark, fixture_paths):
    bk = load_blocks(spark, fixture_paths["bk"])
    # 5 hex cols of '0x1111' per block: (6-2)*4*5 = 80 bits; 3 blocks = 240
    assert data_overhead(bk).collect()[0].wasted_bits == 240


def test_exact_value_mode_carries_wei(spark, fixture_paths):
    tx = exact_value_mode(load_transactions(spark, fixture_paths["tx"]))
    from pyspark.sql import functions as F

    total = tx.agg(F.sum("value").alias("s")).collect()[0].s
    assert int(total) == 750
    assert tx.schema["value"].dataType.simpleString() == "decimal(38,0)"


def test_validator_dropped_bad_line(spark, fixture_paths):
    tx = load_transactions(spark, fixture_paths["tx"])
    assert tx.count() == 4  # header + malformed line both gone


def test_each_job_keeps_exactly_its_reference_validators_lines(spark, tmp_path):
    """Planted lines on which the reference validators disagree (SURVEY.md
    §2.2): a short line is dropped by every job whichever columns it
    reads; an unparsable value with a good gas price is kept by F6 (gas
    guzzlers) only; an unparsable timestamp with a good value by F2 (top-10
    contracts) only; a non-integer block number and an empty miner are
    kept by F5 (top-10 miners) and dropped by F4 (data overhead)."""
    tx = [
        TX_HEADER,
        _tx("0x1", "0xaaa", 1.0, 10.0, 1.0, TS_JAN),
        _tx("0x2", "0xaaa", 1.0, 20.0, 2.0, TS_JAN),
        _tx("0x3", "0xaaa", 1.0, 30.0, 3.0, TS_JAN),
        ",".join(_tx("0x4", "0xaaa", 1.0, 40.0, 10.0, TS_JAN).split(",")[:12]),
        _tx("0x5", "0xaaa", "notanumber", 50.0, 20.0, TS_JAN),
        _tx("0x6", "0xaaa", 5.0, 60.0, 30.0, "notatime"),
    ]
    bk_header = (
        "number,hash,parent_hash,nonce,sha3_uncles,logs_bloom,"
        "transactions_root,state_root,receipts_root,miner,difficulty,"
        "total_difficulty,size,extra_data,gas_limit,gas_used,timestamp,"
        "transaction_count,base_fee_per_gas"
    )

    def _bk(num, miner, size):
        return (f"{num},0xh,0xp,0xn,0x11,0x11,0x11,0x11,0x11,"
                f"{miner},1,1,{size},0x,100,50,{TS_JAN},2,")

    bk = [bk_header, _bk(1, "0xb", 1.0), _bk(2, "0xb", 2.0), _bk(3, "0xb", 2.0),
          ",".join(_bk(4, "0xb", 8.0).split(",")[:13]),
          _bk("notint", "0xb", 8.0), _bk(6, "", 50.0)]
    paths = {}
    for name, lines in (("tx", tx), ("bk", bk), ("ct", [
        "address,bytecode,function_sighashes,is_erc20,is_erc721,block_number",
        "0xaaa,0x60,sig,True,False,1",
    ])):
        paths[name] = str(tmp_path / f"{name}.csv")
        with open(paths[name], "w") as f:
            f.write("\n".join(lines) + "\n")
    txs = load_transactions(spark, paths["tx"])
    ct = load_contracts(spark, paths["ct"])
    blocks = load_blocks(spark, paths["bk"])

    assert [(r.txn_count, r.avg_value) for r in monthly_transactions(txs).collect()] \
        == [(3, 1.0)]                                            # F1
    top10 = top10_contracts(txs, ct)
    assert [(r.to_address, r.total_value) for r in top10.collect()] \
        == [("0xaaa", 8.0)]                                      # F2
    price, used, _ = gas_guzzlers(txs, ct, top10)
    assert [r.avg_gas_price for r in price.collect()] == [6.5]   # F6
    assert [r.avg_gas_used for r in used.collect()] == [27.5]
    assert [(r.miner, r.total_size) for r in top10_miners(blocks).collect()] \
        == [("", 50.0), ("0xb", 13.0)]                           # F5
    # F4: the three good blocks, five 0x11 columns of (4-2)*4 bits each
    assert data_overhead(blocks).collect()[0].wasted_bits == 3 * 5 * 8

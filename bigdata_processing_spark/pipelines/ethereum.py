"""The reference's six Ethereum-analytics jobs as engine pipelines.

Each function takes already-loaded DataFrames (use
``load_transactions``/``load_contracts``/``load_blocks``/``load_scams``
to read the reference's CSV/JSON layouts with declared schemas; each
job applies its reference job's own line validator) and
returns the job's result DataFrame(s). Citations point at the RDD
pipeline each replaces in /root/reference.

Output-parity notes: months are formatted "MM-yyyy" exactly like the
reference's ``time.strftime("%m-%Y", time.gmtime(ts))`` (UTC session
timezone pinned in session.py); values stay DoubleType because the
reference parsed wei with float() — see ``exact_value_mode`` for the
DecimalType(38,0) exact alternative the reference could not express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from bigdata_processing_spark import cache
from bigdata_processing_spark.sources import read_json
from bigdata_processing_spark.sources.readers import hex_prefixed, non_empty, parsed_ok

# --------------------------------------------------------------------------
# Input schemas (reference: 15/6/19-column CSVs, FIXTURES.md §A;
# column names follow the public ethereum-etl export layout)
# --------------------------------------------------------------------------

TRANSACTIONS_SCHEMA = StructType(
    [
        StructField("hash", StringType()),
        StructField("nonce", LongType()),
        StructField("block_hash", StringType()),
        StructField("block_number", LongType()),
        StructField("transaction_index", LongType()),
        StructField("from_address", StringType()),
        StructField("to_address", StringType()),          # idx 6
        StructField("value", DoubleType()),               # idx 7 (wei)
        StructField("gas", DoubleType()),                 # idx 8
        StructField("gas_price", DoubleType()),           # idx 9
        StructField("input", StringType()),
        StructField("block_timestamp", DoubleType()),     # idx 11, unix secs
        StructField("max_fee_per_gas", StringType()),
        StructField("max_priority_fee_per_gas", StringType()),
        StructField("transaction_type", StringType()),
    ]
)

CONTRACTS_SCHEMA = StructType(
    [
        StructField("address", StringType()),             # idx 0
        StructField("bytecode", StringType()),
        StructField("function_sighashes", StringType()),
        StructField("is_erc20", StringType()),
        StructField("is_erc721", StringType()),
        StructField("block_number", LongType()),
    ]
)

BLOCKS_SCHEMA = StructType(
    [
        StructField("number", LongType()),                # idx 0
        StructField("hash", StringType()),
        StructField("parent_hash", StringType()),
        StructField("nonce", StringType()),
        StructField("sha3_uncles", StringType()),         # idx 4
        StructField("logs_bloom", StringType()),          # idx 5
        StructField("transactions_root", StringType()),   # idx 6
        StructField("state_root", StringType()),          # idx 7
        StructField("receipts_root", StringType()),       # idx 8
        StructField("miner", StringType()),               # idx 9
        StructField("difficulty", DoubleType()),
        StructField("total_difficulty", DoubleType()),
        StructField("size", DoubleType()),                # idx 12
        StructField("extra_data", StringType()),
        StructField("gas_limit", DoubleType()),
        StructField("gas_used", DoubleType()),
        StructField("timestamp", DoubleType()),
        StructField("transaction_count", LongType()),
        StructField("base_fee_per_gas", StringType()),
    ]
)

SCAMS_SCHEMA = StructType(
    [
        StructField(
            "result",
            MapType(
                StringType(),
                StructType(
                    [
                        StructField("id", LongType()),
                        StructField("addresses", ArrayType(StringType())),
                        StructField("status", StringType()),
                        StructField("category", StringType()),
                    ]
                ),
            ),
        )
    ]
)

_MONTH = "MM-yyyy"  # reference format: time.strftime("%m-%Y", ...)


def _month(ts_col) -> F.Column:
    """Unix-seconds → "MM-yyyy" (reference etherTransactionsAnalysis.py:47;
    UTC semantics of time.gmtime guaranteed by the session timezone)."""
    return F.date_format(F.timestamp_seconds(ts_col), _MONTH)


# --------------------------------------------------------------------------
# Validators: each job keeps exactly the lines its reference job kept
# (SURVEY.md §2.2 F1-F7). The loaders apply the arity rule (15 / 6 / 19
# fields, whichever columns a job selects) and drop the lines no job's
# validator keeps; each job then applies its own typed-field rule.
# --------------------------------------------------------------------------

def _f1() -> F.Column:  # etherTransactionsAnalysis.py:19-28
    return parsed_ok("value", "block_timestamp")


def _f2() -> F.Column:  # etherTop10Contracts.py:19-29
    return hex_prefixed("to_address") & parsed_ok("value")


def _f5() -> F.Column:  # etherTopMiners.py:18-26
    return parsed_ok("size")


def _f4() -> F.Column:  # etheroverhead.py:18-27
    return _f5() & non_empty("miner") & parsed_ok("number")


def _f6() -> F.Column:  # ethergasguzzlers.py:18-27
    return parsed_ok("gas_price", "block_timestamp")


def _read_lines(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """The reference's S1 idiom, ``textFile`` + ``split(',')``: a line with
    other than ``len(schema)`` fields is dropped whichever columns a job
    selects (the CSV reader parses only those and pads short lines). Each
    field is ``try_cast`` to its type: unparsable is NULL, for the job's
    validator to drop."""
    fields = F.split(F.col("value"), ",", -1)
    return spark.read.text(path).filter(F.size(fields) == len(schema)).select(
        *[fields[i].try_cast(f.dataType).alias(f.name) for i, f in enumerate(schema)]
    )


def load_transactions(spark: SparkSession, path: str) -> DataFrame:
    """15-field lines that F1, F2 or F6 keeps; the header dies on the
    failed parse, as in the reference."""
    return _read_lines(spark, path, TRANSACTIONS_SCHEMA).filter(_f1() | _f2() | _f6())


def load_contracts(spark: SparkSession, path: str) -> DataFrame:
    """6-field lines (F7, ethergasguzzlers.py:29-37; top10_contracts
    adds F3's "0x" address)."""
    return _read_lines(spark, path, CONTRACTS_SCHEMA)


def load_blocks(spark: SparkSession, path: str) -> DataFrame:
    """19-field lines that F5 keeps (F4 keeps a subset of them)."""
    return _read_lines(spark, path, BLOCKS_SCHEMA).filter(_f5())


def load_scams(spark: SparkSession, path: str) -> DataFrame:
    """reference etherscams.py:45-46 (S2): JSON-lines with a map of
    scam records."""
    return read_json(spark, path, SCAMS_SCHEMA)


# --------------------------------------------------------------------------
# Job 1 — monthly transaction count + average value
# (reference etherTransactionsAnalysis.py:44-54: two reduceByKey passes
# joined on month; here ONE groupBy computes count/sum/avg.)
# --------------------------------------------------------------------------

def monthly_transactions(transactions: DataFrame) -> DataFrame:
    return (
        transactions.filter(_f1())
        .groupBy(_month(F.col("block_timestamp")).alias("month"))
        .agg(
            F.count("*").alias("txn_count"),
            F.avg("value").alias("avg_value"),
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# Job 2 — top-10 contracts by ether received
# (reference etherTop10Contracts.py:56-68: inner join used as a
# membership filter + sum + takeOrdered(10). Contracts side broadcast.)
# --------------------------------------------------------------------------

def top10_contracts(transactions: DataFrame, contracts: DataFrame) -> DataFrame:
    tx = transactions.filter(_f2())
    ct = contracts.filter(hex_prefixed("address")).select("address").distinct()
    return (
        tx.join(F.broadcast(ct), tx.to_address == ct.address, "left_semi")
        .groupBy("to_address")
        .agg(F.sum("value").alias("total_value"))
        .orderBy(F.col("total_value").desc(), F.col("to_address").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# Job 3 — top-10 miners by total block size
# (reference etherTopMiners.py:40-46.)
# --------------------------------------------------------------------------

def top10_miners(blocks: DataFrame) -> DataFrame:
    return (
        blocks.filter(_f5()).groupBy("miner")
        .agg(F.sum("size").alias("total_size"))
        .orderBy(F.col("total_size").desc(), F.col("miner").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# Job 4 — scam analysis: most lucrative scam id / category and the
# (month, category) value series
# (reference etherscams.py:45-59: json.loads + double flatMap + join +
# three reduceByKey consumers — which recomputed the un-cached join
# three times (SURVEY.md §3.3); here the joined frame is held in the
# session cache once.)
# --------------------------------------------------------------------------

def scam_analysis(transactions: DataFrame, scams: DataFrame
                  ) -> tuple[DataFrame, DataFrame, DataFrame]:
    per_scam = scams.select(F.explode("result").alias("k", "rec")).select(
        F.col("rec.id").alias("scam_id"),
        F.col("rec.category").alias("category"),
        F.explode("rec.addresses").alias("address"),
    )
    transactions = transactions.filter(_f1())
    # the reference's missed reuse, fixed (etherscams.py:55-59)
    joined = cache.hold(
        transactions.join(
            F.broadcast(per_scam),
            transactions.to_address == per_scam.address,
            "inner",
        )
        .select("scam_id", "category", "value", "block_timestamp")
    )
    lucrative_id = (
        joined.groupBy("scam_id").agg(F.sum("value").alias("total_value"))
        .orderBy(F.col("total_value").desc(), F.col("scam_id").asc()).limit(1)
    )
    lucrative_category = (
        joined.groupBy("category").agg(F.sum("value").alias("total_value"))
        .orderBy(F.col("total_value").desc(), F.col("category").asc()).limit(1)
    )
    change_with_time = (
        joined.groupBy(
            _month(F.col("block_timestamp")).alias("month"), F.col("category")
        )
        .agg(F.sum("value").alias("total_value"))
        .orderBy("month", "category")
    )
    return lucrative_id, lucrative_category, change_with_time


# --------------------------------------------------------------------------
# Job 5 — gas guzzlers: avg gas price per month, avg gas used by
# contract transactions per month, avg gas of top-10-contract
# transactions per month
# (reference ethergasguzzlers.py:53-79: three hand-rolled (sum,count)
# pipelines over two joins; the top-10 filter join (J5) becomes a
# broadcast semi-join.)
# --------------------------------------------------------------------------

def gas_guzzlers(transactions: DataFrame, contracts: DataFrame,
                 top10_addresses: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    transactions = transactions.filter(_f6())
    month = _month(F.col("block_timestamp")).alias("month")

    avg_gas_price = (
        transactions.groupBy(month)
        .agg(F.avg("gas_price").alias("avg_gas_price"))
        .orderBy("month")
    )

    ct = contracts.select("address").distinct()
    contract_txns = transactions.join(
        F.broadcast(ct), transactions.to_address == ct.address, "left_semi"
    )
    avg_gas_used = (
        contract_txns.groupBy(month)
        .agg(F.avg("gas").alias("avg_gas_used"))
        .orderBy("month")
    )

    top10 = top10_addresses.select(F.col("to_address").alias("address")).distinct()
    top10_txns = contract_txns.join(
        F.broadcast(top10), contract_txns.to_address == top10.address, "left_semi"
    )
    top10_gas = (
        top10_txns.groupBy(month)
        .agg(F.avg("gas").alias("avg_gas"))
        .orderBy("month")
    )
    return avg_gas_price, avg_gas_used, top10_gas


# --------------------------------------------------------------------------
# Job 6 — data overhead: bits wasted by five hex columns of blocks.csv
# (reference etheroverhead.py:44-49: (len(col)-2)*4 summed under a
# constant key; here a keyless aggregate.)
# --------------------------------------------------------------------------

_HEX_COLS = ("sha3_uncles", "logs_bloom", "transactions_root",
             "state_root", "receipts_root")


def data_overhead(blocks: DataFrame) -> DataFrame:
    waste = None
    for c in _HEX_COLS:
        term = (F.length(c) - F.lit(2)) * F.lit(4)
        waste = term if waste is None else waste + term
    return blocks.filter(_f4()).agg(F.sum(waste).alias("wasted_bits"))


# --------------------------------------------------------------------------
# Exact-value mode (SURVEY.md §7 risk register): wei magnitudes reach
# ~1e26 > int64; the reference accepted float error. DecimalType(38,0)
# carries wei exactly through sums.
# --------------------------------------------------------------------------

def exact_value_mode(transactions: DataFrame) -> DataFrame:
    """Re-typed view with value as DecimalType(38,0) for exact wei
    arithmetic (sums of ~1e26-scale values stay within precision 38)."""
    return transactions.withColumn("value", F.col("value").cast("decimal(38,0)"))

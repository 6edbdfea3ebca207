"""Deterministic synthetic blockchain generator (test infrastructure).

Produces raw-entity DataFrames shaped like ethereum-etl items (the reference's
extraction output, SURVEY.md §2.1 S1-S3) entirely with JVM-side expressions:
``spark.range`` over block ids → per-block fan-out via ``explode(sequence)``.
No Python row loops, no RNG state — every value is an md5/arithmetic function
of the ids, so any range regenerates identically (and in parallel at any
scale: the generator itself is partition-parallel over block ids).

Includes the reference's edge shapes: genesis-style block 0, empty blocks,
contract creations (null to_address), reward traces (null tx hash / null
trace_address), anonymous-event logs (empty topics), null-topics rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import WEI_DECIMAL


def _hex64(*cols) -> F.Column:
    """64-hex-char pseudo-hash with 0x prefix (two chained md5s)."""
    base = F.concat_ws("|", *cols)
    return F.concat(F.lit("0x"), F.md5(base), F.md5(F.concat(base, F.lit("~"))))


def _hex40(*cols) -> F.Column:
    """40-hex-char pseudo-address with 0x prefix."""
    return F.concat(F.lit("0x"), F.md5(F.concat_ws("|", *cols)))


def gen_blocks(spark: SparkSession, start: int, end: int, partitions: int = 8) -> DataFrame:
    """Raw blocks for [start, end] (inclusive), one row per block."""
    b = spark.range(start, end + 1, 1, partitions).withColumnRenamed("id", "number")
    n = F.col("number")
    return b.select(
        n,
        _hex64(F.lit("blk"), n).alias("hash"),
        _hex64(F.lit("blk"), n - 1).alias("parent_hash"),
        F.concat(F.lit("0x"), F.substring(F.md5(n.cast("string")), 1, 16)).alias("nonce"),
        _hex64(F.lit("unc"), n).alias("sha3_uncles"),
        _hex64(F.lit("bloom"), n).alias("logs_bloom"),
        _hex64(F.lit("txroot"), n).alias("transactions_root"),
        _hex64(F.lit("stroot"), n).alias("state_root"),
        _hex64(F.lit("rcroot"), n).alias("receipts_root"),
        _hex40(F.lit("miner"), (n % 10)).alias("miner"),
        # wei-scale values are computed in WEI_DECIMAL: bigint arithmetic
        # overflows (n * n * 500 past block ~135.8 M)
        (n.cast(WEI_DECIMAL) * 1000 + 7).cast(WEI_DECIMAL).alias("difficulty"),
        (n.cast(WEI_DECIMAL) * n * 500).cast(WEI_DECIMAL).alias("total_difficulty"),
        (500 + n % 1000).cast("int").alias("size"),
        F.lit("0x").alias("extra_data"),
        F.lit(30_000_000).cast("int").alias("gas_limit"),
        (n % 15_000_000).cast("int").alias("gas_used"),
        F.when(n >= 100, (n % 100 + 1) * 1_000_000_000).cast("bigint").alias(
            "base_fee_per_gas"
        ),
        (1_600_000_000 + n * 12).cast("int").alias("timestamp"),
        (n % 5).cast("smallint").alias("transaction_count"),
    )


def gen_transactions(spark: SparkSession, start: int, end: int, partitions: int = 8) -> DataFrame:
    """Raw transactions: block b carries b % 5 txs (block 0 & multiples of 5
    are empty — the empty-batch edge case)."""
    b = spark.range(start, end + 1, 1, partitions).withColumnRenamed("id", "number")
    txs = b.select(
        F.col("number").alias("block_number"),
        F.explode(
            F.when(
                F.col("number") % 5 > 0,
                F.sequence(F.lit(0), (F.col("number") % 5 - 1).cast("int")),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("transaction_index"),
    )
    n, i = F.col("block_number"), F.col("transaction_index")
    return txs.select(
        _hex64(F.lit("tx"), n, i).alias("hash"),
        (n % 1000).cast("int").alias("nonce"),
        _hex64(F.lit("blk"), n).alias("block_hash"),
        n,
        i.cast("smallint").alias("transaction_index"),
        _hex40(F.lit("addr"), (n * 7 + i) % 50).alias("from_address"),
        # every 7th tx is a contract creation: to_address null
        F.when((n + i) % 7 != 0, _hex40(F.lit("addr"), (n * 13 + i) % 50)).alias(
            "to_address"
        ),
        # in WEI_DECIMAL: in bigint this overflows past block 922,336
        ((n + 1).cast(WEI_DECIMAL) * 10_000_000_000_000 + i)
        .cast(WEI_DECIMAL)
        .alias("value"),
        F.lit(21000).cast("int").alias("gas"),
        ((n % 50 + 1) * 1_000_000_000).cast(WEI_DECIMAL).alias("gas_price"),
        F.when((n + i) % 3 == 0, F.concat(F.lit("0xa9059cbb"), F.md5(i.cast("string"))))
        .otherwise(F.lit("0x"))
        .alias("input"),
        (1_600_000_000 + n * 12).cast("int").alias("block_timestamp"),
        # legacy txs (pre-EIP-1559): null fee fields
        F.when(n >= 100, (n % 100 + 2) * 1_000_000_000).cast("bigint").alias(
            "max_fee_per_gas"
        ),
        F.when(n >= 100, F.lit(1_000_000_000)).cast("bigint").alias(
            "max_priority_fee_per_gas"
        ),
        F.when(n >= 100, F.lit(2)).otherwise(F.lit(0)).cast("bigint").alias(
            "transaction_type"
        ),
    )


def gen_receipts(txs: DataFrame) -> DataFrame:
    """One receipt per transaction (S2 output shape)."""
    n, i = F.col("block_number"), F.col("transaction_index")
    return txs.select(
        F.col("hash").alias("transaction_hash"),
        ((i + 1) * 21000).cast(WEI_DECIMAL).alias("cumulative_gas_used"),
        F.lit(21000).cast(WEI_DECIMAL).alias("gas_used"),
        F.when(
            F.col("to_address").isNull(), _hex40(F.lit("contract"), n, i)
        ).alias("contract_address"),
        F.lit(None).cast("string").alias("root"),
        (F.when((n + i) % 11 == 0, 0).otherwise(1)).cast("bigint").alias("status"),
        ((n % 50 + 1) * 1_000_000_000).cast("bigint").alias("effective_gas_price"),
    )


def gen_traces(spark: SparkSession, start: int, end: int, partitions: int = 8) -> DataFrame:
    """Raw traces: per tx a call trace (with nested trace_address for every
    3rd) plus one block-reward trace per block (null tx hash, null
    trace_address — the reference's genesis/daofork-style rows)."""
    txs = gen_transactions(spark, start, end, partitions)
    n, i = F.col("block_number"), F.col("transaction_index")
    call_traces = txs.select(
        F.col("hash").alias("transaction_hash"),
        n,
        i.cast("smallint").alias("transaction_index"),
        F.col("from_address"),
        F.col("to_address"),
        F.col("value"),
        F.col("input"),
        F.lit("0x").alias("output"),
        F.lit("call").alias("trace_type"),
        F.lit("call").alias("call_type"),
        F.lit(None).cast("string").alias("reward_type"),
        F.lit(21000).cast("int").alias("gas"),
        F.lit(21000).cast("bigint").alias("gas_used"),
        F.lit(0).cast("int").alias("subtraces"),
        F.when((n + i) % 3 == 0, F.array(F.lit(0), F.lit(2), F.lit(1)))
        .when((n + i) % 3 == 1, F.array().cast("array<int>"))
        .alias("trace_address"),
        F.when((n + i) % 11 == 0, F.lit("Reverted")).alias("error"),
        (F.when((n + i) % 11 == 0, 0).otherwise(1)).cast("smallint").alias("status"),
        F.concat(F.lit("call_"), n.cast("string"), F.lit("_"), i.cast("string")).alias(
            "trace_id"
        ),
        (i + 1).cast("int").alias("trace_index"),
    )
    b = spark.range(start, end + 1, 1, partitions).withColumnRenamed("id", "number")
    bn = F.col("number")
    reward_traces = b.select(
        F.lit(None).cast("string").alias("transaction_hash"),
        bn.alias("block_number"),
        F.lit(None).cast("smallint").alias("transaction_index"),
        F.lit(None).cast("string").alias("from_address"),
        _hex40(F.lit("miner"), (bn % 10)).alias("to_address"),
        F.lit(2_000_000_000_000_000_000).cast(WEI_DECIMAL).alias("value"),
        F.lit(None).cast("string").alias("input"),
        F.lit(None).cast("string").alias("output"),
        F.lit("reward").alias("trace_type"),
        F.lit(None).cast("string").alias("call_type"),
        F.lit("block").alias("reward_type"),
        F.lit(None).cast("int").alias("gas"),
        F.lit(None).cast("bigint").alias("gas_used"),
        F.lit(0).cast("int").alias("subtraces"),
        F.lit(None).cast("array<int>").alias("trace_address"),
        F.lit(None).cast("string").alias("error"),
        F.lit(1).cast("smallint").alias("status"),
        F.concat(F.lit("reward_"), bn.cast("string")).alias("trace_id"),
        F.lit(0).cast("int").alias("trace_index"),
    )
    return call_traces.unionByName(reward_traces)


def gen_logs(spark: SparkSession, start: int, end: int, partitions: int = 8) -> DataFrame:
    """Raw logs: txs with calldata emit one log; topic-count varies including
    empty (anonymous event) and null topics rows."""
    txs = gen_transactions(spark, start, end, partitions)
    n, i = F.col("block_number"), F.col("transaction_index")
    logs = txs.filter((n + i) % 3 == 0)
    topic = lambda j: F.concat(  # noqa: E731
        F.lit("0x"), F.md5(F.concat_ws(":", F.lit(j), n, i)), F.md5(F.concat_ws(";", F.lit(j), n, i))
    )
    return logs.select(
        F.col("hash").alias("transaction_hash"),
        n,
        F.col("block_hash"),
        F.col("to_address").alias("address"),
        F.concat(F.lit("0x"), F.md5(F.concat_ws("-", n, i))).alias("data"),
        F.when(n % 17 == 0, F.lit(None).cast("array<string>"))
        .when(n % 13 == 0, F.array().cast("array<string>"))
        .when(n % 2 == 0, F.array(topic(0), topic(1), topic(2)))
        .otherwise(F.array(topic(0)))
        .alias("topics"),
        (i * 2).cast("int").alias("log_index"),
        i.cast("smallint").alias("transaction_index"),
    )


def gen_chain(spark: SparkSession, start: int, end: int, partitions: int = 8) -> dict[str, DataFrame]:
    """The full raw-entity bundle for a block range."""
    txs = gen_transactions(spark, start, end, partitions)
    return {
        "blocks": gen_blocks(spark, start, end, partitions),
        "transactions": txs,
        "receipts": gen_receipts(txs),
        "traces": gen_traces(spark, start, end, partitions),
        "logs": gen_logs(spark, start, end, partitions),
    }

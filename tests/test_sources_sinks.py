"""RPC-source plumbing (mapInPandas batch fetch with injected transport) and
sink tests (partitioned parquet layout + CSV dialect fidelity)."""

from __future__ import annotations

import glob
import gzip

import pytest

from pyspark.sql import functions as F

from graphsense_ethereum_etl_spark.operators.pipelines import CSV, transform_blocks, transform_logs
from graphsense_ethereum_etl_spark.sinks import (
    write_configuration,
    write_partitioned_csv,
    write_partitioned_parquet,
)
from graphsense_ethereum_etl_spark.sources.generator import gen_blocks, gen_logs
from graphsense_ethereum_etl_spark.sources.rpc import fetch_blocks


def test_rpc_source_plumbing(spark):
    """The distributed fetch shape: block-id range partitioned across tasks,
    per-chunk transport calls, Arrow batches out with the declared schema."""
    seen_chunks = []

    def fake_fetcher(block_ids):
        seen_chunks.append(len(block_ids))
        return [
            {
                "number": b,
                "hash": f"0x{b:064x}",
                "timestamp": 1_600_000_000 + b * 12,
                "transaction_count": b % 5,
                "difficulty": None,
                "total_difficulty": None,
                "size": 500,
                "gas_limit": 30_000_000,
                "gas_used": 0,
                "base_fee_per_gas": None,
            }
            for b in block_ids
        ]

    df = fetch_blocks(spark, 0, 99, fake_fetcher, rpc_batch_size=10, tasks=4)
    rows = df.collect()
    assert len(rows) == 100
    assert df.schema["number"].dataType.simpleString() == "bigint"
    assert {r["number"] for r in rows} == set(range(100))
    # transport saw bounded chunks (rpc batching inside each task)
    assert max(seen_chunks or [10]) <= 10


def _make_fixture_node_post(head=None):
    """Recorded-node stand-in FACTORY: the returned closure parses the
    JSON-RPC batch request and answers eth_getBlockByNumber (full and
    header-only) / eth_getBlockReceipts / trace_block — plus eth_blockNumber
    when ``head`` is given — with wire-shaped results (hex quantities),
    deliberately in REVERSED order to exercise the id re-matching. Built as
    a nested function so cloudpickle ships it BY VALUE to executors (the
    pytest test module itself is not importable on Spark workers)."""

    def post(body: bytes) -> bytes:
        import json

        def tx_hash(num, i):
            return f"0x{num * 1000 + i:064x}"

        def txs(num):
            return [
                {
                    "hash": tx_hash(num, i),
                    "nonce": hex(i),
                    "blockHash": f"0x{num:064x}",
                    "blockNumber": hex(num),
                    "transactionIndex": hex(i),
                    "from": "0x" + "aa" * 20,
                    "to": "0x" + "bb" * 20,
                    "value": hex(10**18 + num),
                    "gas": hex(21_000),
                    "gasPrice": hex(10**9),
                    "input": "0x",
                    "maxFeePerGas": hex(2 * 10**9),
                    "maxPriorityFeePerGas": hex(10**8),
                    "type": "0x2",
                }
                for i in range(num % 4)
            ]

        calls = json.loads(body)
        out = []
        for call in calls:
            assert call["jsonrpc"] == "2.0"
            if call["method"] == "eth_blockNumber":
                assert head is not None, "fixture built without a head"
                out.append(
                    {"jsonrpc": "2.0", "id": call["id"], "result": hex(head)}
                )
                continue
            num = int(call["params"][0], 16)
            if call["method"] == "eth_getBlockByNumber" and call["params"][1] is False:
                # header-only probe (last_block_before bisection)
                out.append(
                    {
                        "jsonrpc": "2.0",
                        "id": call["id"],
                        "result": {
                            "number": hex(num),
                            "timestamp": hex(1_600_000_000 + num * 12),
                        },
                    }
                )
                continue
            if call["method"] == "eth_getBlockByNumber":
                assert call["params"][1] is True  # full tx objects
                result = {
                    "number": hex(num),
                    "hash": f"0x{num:064x}",
                    "parentHash": f"0x{max(num - 1, 0):064x}",
                    "nonce": "0x0000000000000042",
                    "miner": "0x" + "ab" * 20,
                    "difficulty": hex(10**22 + num),
                    "totalDifficulty": hex(10**25 + num),
                    "size": hex(500 + num % 7),
                    "extraData": "0x",
                    "gasLimit": hex(30_000_000),
                    "gasUsed": hex(num * 21_000),
                    "baseFeePerGas": hex(7 + num),
                    "timestamp": hex(1_600_000_000 + num * 12),
                    "transactions": txs(num),
                }
            elif call["method"] == "eth_getBlockReceipts":
                result = [
                    {
                        "transactionHash": t["hash"],
                        "cumulativeGasUsed": hex((i + 1) * 21_000),
                        "gasUsed": hex(21_000),
                        "contractAddress": None,
                        "status": "0x1",
                        "effectiveGasPrice": hex(10**9 + 7),
                        "logs": [
                            {
                                "transactionHash": t["hash"],
                                "blockNumber": hex(num),
                                "blockHash": f"0x{num:064x}",
                                "address": "0x" + "cc" * 20,
                                "data": "0x00",
                                "topics": [f"0x{j:064x}" for j in range(i % 3)],
                                "logIndex": hex(i),
                                "transactionIndex": hex(i),
                            }
                        ],
                    }
                    for i, t in enumerate(txs(num))
                ]
            elif call["method"] == "trace_block":
                result = [
                    {
                        "action": {
                            "from": "0x" + "aa" * 20,
                            "to": "0x" + "bb" * 20,
                            "value": hex(num),
                            "gas": hex(21_000),
                            "input": "0x",
                            "callType": "call",
                        },
                        "result": {"gasUsed": hex(20_000), "output": "0x"},
                        "type": "call",
                        "traceAddress": [0, i],
                        "subtraces": 0,
                        "transactionHash": t["hash"],
                        "transactionPosition": i,
                        "blockNumber": num,
                        "error": "Reverted" if (num + i) % 5 == 0 else None,
                    }
                    for i, t in enumerate(txs(num))
                ]
            else:  # pragma: no cover
                raise AssertionError(f"unexpected method {call['method']}")
            out.append({"jsonrpc": "2.0", "id": call["id"], "result": result})
        return json.dumps(list(reversed(out))).encode()

    return post


_fixture_node_post = _make_fixture_node_post()


def test_jsonrpc_transport_batch_roundtrip():
    from graphsense_ethereum_etl_spark.sources.rpc import JsonRpcTransport

    posts = []

    def post(body):
        posts.append(body)
        return _fixture_node_post(body)

    t = JsonRpcTransport("http://node:8545", post=post)
    results = t.request_batch(
        [("eth_getBlockByNumber", [hex(b), True]) for b in (5, 3, 9)]
    )
    assert len(posts) == 1  # ONE http round-trip for the whole batch
    # responses re-matched by id despite the reversed wire order
    assert [int(r["number"], 16) for r in results] == [5, 3, 9]


def test_jsonrpc_transport_error_and_missing_id():
    import json

    from graphsense_ethereum_etl_spark.sources.rpc import JsonRpcTransport

    err = JsonRpcTransport(
        "http://node:8545",
        post=lambda b: json.dumps(
            [{"jsonrpc": "2.0", "id": 0, "error": {"code": -32000, "message": "boom"}}]
        ).encode(),
    )
    with pytest.raises(RuntimeError, match="boom"):
        err.request_batch([("eth_getBlockByNumber", ["0x1", True])])

    short = JsonRpcTransport(
        "http://node:8545",
        post=lambda b: json.dumps(
            [{"jsonrpc": "2.0", "id": 0, "result": {}}]
        ).encode(),
    )
    with pytest.raises(RuntimeError, match="missing ids"):
        short.request_batch(
            [("eth_getBlockByNumber", ["0x1", True])] * 2
        )


def test_rpc_transport_end_to_end_through_spark(spark):
    """The full S1 path against the recorded fixture: distributed id range →
    batched JSON-RPC per chunk → hex decode → Arrow batches with RAW_BLOCK
    types (wei quantities land as exact Decimals)."""
    from decimal import Decimal

    from graphsense_ethereum_etl_spark.sources.rpc import (
        JsonRpcTransport,
        fetch_blocks,
        rpc_block_fetcher,
    )

    fetcher = rpc_block_fetcher(
        JsonRpcTransport("http://node:8545", post=_make_fixture_node_post())
    )
    df = fetch_blocks(spark, 0, 59, fetcher, rpc_batch_size=25, tasks=3)
    rows = {r["number"]: r for r in df.collect()}
    assert set(rows) == set(range(60))
    assert rows[9]["gas_used"] == 9 * 21_000
    assert rows[9]["timestamp"] == 1_600_000_000 + 9 * 12
    assert rows[9]["transaction_count"] == 1
    assert rows[9]["difficulty"] == Decimal(10**22 + 9)
    assert rows[9]["base_fee_per_gas"] == 16


def test_partitioned_parquet_layout_and_pruning(spark, tmp_path):
    path = str(tmp_path / "block")
    blocks = transform_blocks(gen_blocks(spark, 0, 2999, partitions=4))
    write_partitioned_parquet(blocks, path, "block")
    # hive-style partition dirs per 1000-block bucket
    dirs = sorted(p.split("=")[-1] for p in glob.glob(f"{path}/block_id_group=*"))
    assert dirs == ["0", "1", "2"]
    # partition pruning: only one bucket scanned for a bucket-filtered read
    pruned = spark.read.parquet(path).filter(F.col("block_id_group") == 1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == 1000


def test_csv_log_dialect(spark, tmp_path):
    path = str(tmp_path / "log_csv")
    logs = transform_logs(gen_logs(spark, 0, 49, partitions=2), CSV)
    write_partitioned_csv(logs, path, "log")
    files = glob.glob(f"{path}/**/*.csv.gz", recursive=True)
    assert files
    with gzip.open(files[0], "rt") as fh:
        header = fh.readline()
        body = fh.readline()
    # logs dialect: '|' delimiter (eth_csv_export.py:574-580), and the
    # JSON-ish topics string survives unquoted
    assert "|" in header
    assert "block_id" in header
    if body:
        assert body.count("|") >= header.count("|")


def test_configuration_write(spark, tmp_path):
    path = str(tmp_path / "configuration")
    write_configuration(spark, path, keyspace="eth_raw")
    row = spark.read.parquet(path).collect()[0]
    assert (row["id"], row["block_bucket_size"], row["tx_prefix_length"]) == (
        "eth_raw",
        1000,
        5,
    )


def test_compact_partitions_reduces_file_count(spark, sf_dir, tmp_path):
    from graphsense_ethereum_etl_spark.sinks import compact_partitions
    from graphsense_ethereum_etl_spark.functions.columns import block_bucket
    from graphsense_ethereum_etl_spark.queries import load

    path = str(tmp_path / "frag")
    li = load(spark, sf_dir, "lineitem").withColumn("bucket", block_bucket("l_orderkey"))
    # simulate incremental ingest: many tiny appends → many files/partition
    for lo in range(0, 40, 10):
        (
            li.filter((F.col("l_linenumber") > lo % 7))
            .limit(2000)
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(path)
        )
    import glob

    before = len(glob.glob(f"{path}/**/*.parquet", recursive=True))
    rows_before = spark.read.parquet(path).count()
    after = compact_partitions(spark, path, partition_col="bucket")
    assert spark.read.parquet(path).count() == rows_before  # lossless
    assert after < before  # fewer files


def test_zorder_bounds_all_dimensions(spark, tmp_path):
    """Quantify the skipping property: on a 64x64 grid written to 16 files,
    a linear sort by x leaves each file spanning ~the full y range (no
    skipping possible on y), while Z-order bounds BOTH dimensions' per-file
    spans — which is exactly what Parquet min/max stats skip on."""
    from graphsense_ethereum_etl_spark.sinks import write_zordered

    grid = spark.range(64 * 64).selectExpr(
        "CAST(id % 64 AS BIGINT) AS x", "CAST(id DIV 64 AS BIGINT) AS y"
    )
    linear = str(tmp_path / "linear")
    zed = str(tmp_path / "zorder")
    (
        grid.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(linear)
    )
    write_zordered(grid, zed, ["x", "y"], bits=6, num_files=16)

    def mean_span(path, col):
        import pyspark.sql.functions as F

        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg((F.max(col) - F.min(col)).alias("span"))
        )
        rows = per_file.collect()
        return sum(r["span"] for r in rows) / len(rows)

    # linear-by-x: y is unclustered — every file spans ~all of y
    assert mean_span(linear, "y") > 55
    # z-order: BOTH dimensions bounded well below the full 0..63 range
    assert mean_span(zed, "x") < 35
    assert mean_span(zed, "y") < 35
    # lossless
    assert spark.read.parquet(zed).count() == 64 * 64


def test_rpc_chain_source_through_run_incremental(spark, tmp_path):
    """S1-S3 completion: the full extract->transform->write loop running
    against the recorded JSON-RPC node — blocks + exploded transactions
    (eth_getBlockByNumber), receipts + logs (eth_getBlockReceipts), traces
    (trace_block) — with the same resume/marker semantics the synthetic
    generator exercises."""
    from graphsense_ethereum_etl_spark.sources.rpc import (
        JsonRpcTransport,
        rpc_chain_source,
    )
    from graphsense_ethereum_etl_spark.streaming.incremental import (
        latest_ingested_block,
        run_incremental,
    )

    source = rpc_chain_source(
        JsonRpcTransport("http://node:8545", post=_make_fixture_node_post()),
        rpc_batch_size=10,
    )
    root = str(tmp_path / "chain")
    stats = run_incremental(
        spark, source, root, head=19, batch_size=10, bucket_size=10
    )
    assert stats.blocks == 20
    assert latest_ingested_block(spark, f"{root}/block") == 19
    n_txs = sum(b % 4 for b in range(20))
    counts = {
        t: spark.read.parquet(f"{root}/{t}").count()
        for t in ["block", "transaction", "trace", "log"]
    }
    assert counts["block"] == 20
    assert counts["transaction"] == n_txs  # enrichment kept every tx
    assert counts["trace"] == n_txs  # one trace per tx in the fixture
    assert counts["log"] == n_txs  # one log per receipt
    # enrichment really joined receipts: effective gas price landed
    tx = spark.read.parquet(f"{root}/transaction")
    assert tx.filter("receipt_gas_used IS NOT NULL").count() == n_txs


def test_rpc_chain_batch_fetched_once_and_released(spark, tmp_path):
    """One fetch per batch: every (method, block) answer is requested once
    however many writes and hooks read the batch, and the persisted fetch
    is released when the batch returns — also after an injected crash."""
    from collections import Counter

    from graphsense_ethereum_etl_spark.sources.rpc import (
        JsonRpcTransport,
        rpc_chain_source,
    )
    from graphsense_ethereum_etl_spark.streaming.incremental import run_incremental

    log = str(tmp_path / "calls.log")
    node = _make_fixture_node_post()

    def post(body):  # runs in the Python workers: count through a file
        import json

        lines = "".join(
            f"{c['method']} {int(c['params'][0], 16)}\n" for c in json.loads(body)
        )
        with open(log, "a") as fh:
            fh.write(lines)
        return node(body)

    jrdds = spark.sparkContext._jsc.getPersistentRDDs

    def persisted():
        return set(jrdds().keySet().toArray())

    before = persisted()
    source = rpc_chain_source(
        JsonRpcTransport("http://node:8545", post=post), rpc_batch_size=5
    )
    hook_txs = []
    root = str(tmp_path / "chain")
    run_incremental(
        spark, source, root, head=19, batch_size=10, bucket_size=10,
        on_batch=lambda s, raw, lo, hi: hook_txs.append(raw["transactions"].count()),
    )
    with open(log) as fh:
        calls = Counter(fh.read().splitlines())
    methods = ("eth_getBlockByNumber", "eth_getBlockReceipts", "trace_block")
    assert calls == Counter(f"{m} {b}" for m in methods for b in range(20))
    assert hook_txs == [sum(b % 4 for b in range(10)), sum(b % 4 for b in range(10, 20))]
    assert persisted() - before == set()

    with pytest.raises(RuntimeError, match="injected crash"):
        run_incremental(
            spark, source, root, head=29, batch_size=10, bucket_size=10,
            fail_after_tables=1,
        )
    assert persisted() - before == set()


def test_ethrpc_python_datasource(spark):
    """Spark 4 Python Data Source packaging of the RPC fetchers:
    spark.read.format('ethrpc') plans one partition per RPC batch and
    decodes wire-hex blocks against the recorded fixture node."""
    from graphsense_ethereum_etl_spark.sources.datasource import register_ethrpc

    register_ethrpc(spark, post=_make_fixture_node_post())
    df = (
        spark.read.format("ethrpc")
        .option("uri", "http://node:8545")
        .option("start", "0")
        .option("end", "39")
        .option("batch", "10")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4  # one per 10-block RPC batch
    rows = {r["number"]: r for r in df.collect()}
    assert set(rows) == set(range(40))
    assert rows[7]["gas_used"] == 7 * 21_000
    assert rows[7]["transaction_count"] == 3


def test_ethrpc_streaming_source(spark, tmp_path):
    """readStream.format('ethrpc'): the checkpointed offset IS the resume
    marker — micro-batches advance by `batch` blocks per trigger up to the
    head, and a second availableNow run resumes where the first stopped."""
    from graphsense_ethereum_etl_spark.sources.datasource import register_ethrpc

    register_ethrpc(spark, post=_make_fixture_node_post())
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain(end):
        q = (
            spark.readStream.format("ethrpc")
            .option("uri", "http://node:8545")
            .option("start", "0")
            .option("end", str(end))
            .option("batch", "8")
            .load()
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain(end=19)
    got = {r["number"] for r in spark.read.parquet(out).collect()}
    assert got == set(range(20))
    # head advances; restart resumes from the checkpointed offset (no
    # re-ingest of 0..19 — counts stay exact)
    drain(end=29)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 30
    assert {r["number"] for r in rows} == set(range(30))

def test_zorder_empty_and_null_inputs(spark, tmp_path):
    """Empty input / all-NULL z-order column degrade to a plain write (no
    TypeError on None min/max), and NULL values in a z-order column pin to
    the column minimum instead of producing NULL Morton keys."""
    from graphsense_ethereum_etl_spark.sinks import write_zordered, zorder_value
    import pytest

    empty = spark.range(0).selectExpr("id AS x", "id AS y")
    p1 = str(tmp_path / "empty")
    write_zordered(empty, p1, ["x", "y"], num_files=4)  # must not raise
    assert spark.read.parquet(p1).count() == 0

    allnull = spark.range(5).selectExpr("id AS x", "CAST(NULL AS BIGINT) AS y")
    p2 = str(tmp_path / "allnull")
    write_zordered(allnull, p2, ["x", "y"], num_files=2)
    assert spark.read.parquet(p2).count() == 5

    with pytest.raises(ValueError, match="min/max"):
        zorder_value(["x"], [None], [None])

    # NULL input rows: Morton key equals the key of the column minimum
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(None,), (0,), (7,)], "x bigint")
    keys = df.select(zorder_value(["x"], [0.0], [7.0], bits=4).alias("z")).collect()
    zs = [r["z"] for r in keys]
    assert zs[0] == zs[1]  # NULL pinned to min
    assert zs[2] is not None and zs[2] > zs[1]

def test_rpc_chain_source_synthetic_genesis_and_daofork_traces(spark, tmp_path):
    """S3 completion (r2 verdict #2): a from-genesis backfill carries the
    synthetic 'genesis' allocation traces (block 0) and a batch covering the
    DAO-fork block carries the 'daofork' refund traces — value moves that
    trace_block can never return. Shapes follow the ethereum-etl
    conventions: trace_id '<type>_<address>', empty trace_address,
    per-block trace_index enumeration, status 1, no transaction_hash."""
    from graphsense_ethereum_etl_spark.sources.rpc import (
        DAOFORK_BLOCK,
        DAOFORK_REFUND_CONTRACT,
        JsonRpcTransport,
        rpc_chain_source,
    )
    from graphsense_ethereum_etl_spark.streaming.incremental import run_incremental

    alloc = [("0x" + f"{i:040x}", 10**18 * (i + 1)) for i in range(5)]
    dao = [("0x" + f"{0xd00 + i:040x}", 7**i) for i in range(3)]
    source = rpc_chain_source(
        JsonRpcTransport("http://node:8545", post=_make_fixture_node_post()),
        rpc_batch_size=10,
        genesis_allocations=alloc,
        daofork_balances=dao,
    )

    # End-to-end: blocks 0..19 through run_incremental → genesis rows land
    root = str(tmp_path / "chain")
    run_incremental(spark, source, root, head=19, batch_size=10, bucket_size=10)
    traces = spark.read.parquet(f"{root}/trace")
    gen = traces.filter("trace_type = 'genesis'").orderBy("trace_index").collect()
    assert len(gen) == 5
    # the Cassandra-dialect pipeline decoded hex addresses to 20-byte binary,
    # renamed transaction_hash/block_number, and joined trace_address to ''
    assert [r["to_address"] for r in gen] == [bytes.fromhex(a[2:]) for a, _ in alloc]
    assert [int(r["value"]) for r in gen] == [w for _, w in alloc]
    assert [r["trace_index"] for r in gen] == list(range(5))
    assert all(r["block_id"] == 0 for r in gen)
    assert all(r["trace_address"] == "" for r in gen)
    assert all(r["status"] == 1 for r in gen)
    assert all(r["tx_hash"] is None for r in gen)
    assert gen[0]["trace_id"] == f"genesis_{alloc[0][0]}"
    # genesis rows ADD to (not replace) the RPC traces of block 0..19
    assert traces.filter("trace_type = 'call'").count() == sum(b % 4 for b in range(20))

    # A batch covering the DAO-fork block carries the refund traces
    frames = source(spark, DAOFORK_BLOCK - 2, DAOFORK_BLOCK + 2)
    dao_rows = (
        frames["traces"].filter("trace_type = 'daofork'").orderBy("trace_index").collect()
    )
    assert len(dao_rows) == 3
    assert all(r["to_address"] == DAOFORK_REFUND_CONTRACT for r in dao_rows)
    assert [r["from_address"] for r in dao_rows] == [a for a, _ in dao]
    assert [int(r["value"]) for r in dao_rows] == [w for _, w in dao]
    assert all(r["block_number"] == DAOFORK_BLOCK for r in dao_rows)
    assert dao_rows[0]["trace_id"] == f"daofork_{dao[0][0]}"

    # ...and a batch NOT covering either block carries no synthetic rows
    frames2 = source(spark, 5, 9)
    assert frames2["traces"].filter(
        "trace_type IN ('genesis', 'daofork')"
    ).count() == 0


def test_partitioned_parquet_clustering_survives_writer(spark, tmp_path):
    """Regression (same class as the versioned-table fix): sort_cols
    clustering must survive the dynamic-partition writer's required
    ordering — rows inside each written file stay in clustering order."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from graphsense_ethereum_etl_spark.sinks import write_partitioned_parquet

    df = spark.createDataFrame(
        [((i * 37) % 200, ((i * 37) % 200) // 100) for i in range(200)],
        "block_id bigint, block_id_group bigint",
    ).repartition(1)
    path = str(tmp_path / "blocks")
    write_partitioned_parquet(df, path, "block")
    checked = 0
    for root, _dirs, files in os.walk(path):
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            got = pq.read_table(f"{root}/{fname}")["block_id"].to_pylist()
            assert got == sorted(got), f"clustering lost in {root}/{fname}"
            checked += 1
    assert checked >= 2  # one file per partition dir

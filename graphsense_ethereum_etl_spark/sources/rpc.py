"""JSON-RPC extraction source (SURVEY.md §2.1 S1-S3), Spark-native.

The reference pulls blocks/txs/receipts/logs/traces from an Ethereum node via
batched JSON-RPC with a 5-thread pool (eth_cassandra_streaming.py:99-180).
The Spark shape: distribute the *block-id range* across executors
(``spark.range`` → ``repartition``), then each task fetches its contiguous
id-batch with batched RPC inside ``mapInArrow`` (``fetch_chain``: every
entity of a batch in one Python stage; ``fetch_entity``, ``mapInPandas``,
for a single-entity fetch). Task parallelism replaces the thread pool; at
1000 executors this scales the extraction linearly while keeping each RPC
batch bounded.

Transport: ``JsonRpcTransport`` speaks the actual wire protocol — JSON-RPC
2.0 *batch* POSTs (one HTTP round-trip per ``rpc_batch_size`` blocks, the
reference's batch_size=50 semantics) over stdlib urllib; no third-party
client needed, which is also how ethereum-etl's underlying provider works.
The HTTP POST itself is pluggable (``post=``) so tests drive the full
encode → batch → decode → hex-conversion path against recorded fixtures
without a node, and a real deployment can swap in a pooled/authenticated
session. ``rpc_block_fetcher`` adapts it to the ``BatchFetcher`` shape
``fetch_blocks`` consumes.
"""

from __future__ import annotations

import json
import urllib.request
from collections.abc import Callable, Iterator
from decimal import Decimal
from typing import Any

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import RAW_BLOCK, RAW_LOG, RAW_RECEIPT, RAW_TRACE, RAW_TRANSACTION

BatchFetcher = Callable[[list[int]], list[dict[str, Any]]]


class JsonRpcTransport:
    """Minimal JSON-RPC 2.0 batch client (eth_cassandra_streaming.py:107-133
    parity: one batched request per chunk, responses matched by id).

    ``post``: optional ``bytes -> bytes`` override for the HTTP POST —
    recorded-fixture tests and custom sessions plug in here."""

    def __init__(
        self,
        provider_uri: str,
        timeout: float = 30.0,
        post: Callable[[bytes], bytes] | None = None,
    ) -> None:
        self.provider_uri = provider_uri
        self.timeout = timeout
        self._post = post or self._http_post

    def _http_post(self, body: bytes) -> bytes:  # pragma: no cover - needs node
        req = urllib.request.Request(
            self.provider_uri,
            data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            return resp.read()

    def request_batch(
        self, calls: list[tuple[str, list[Any]]]
    ) -> list[dict[str, Any]]:
        """One HTTP round-trip for ``calls``; results returned in call order
        (the server may reorder — responses are re-matched by id). Raises on
        any per-call error object (partial batch failures must not silently
        drop blocks — the resume marker would skip them forever)."""
        payload = [
            {"jsonrpc": "2.0", "id": i, "method": method, "params": params}
            for i, (method, params) in enumerate(calls)
        ]
        raw = self._post(json.dumps(payload).encode())
        responses = json.loads(raw)
        by_id: dict[int, dict[str, Any]] = {}
        for r in responses:
            if "error" in r and r["error"] is not None:
                raise RuntimeError(
                    f"JSON-RPC error for call {r.get('id')}: {r['error']}"
                )
            by_id[int(r["id"])] = r["result"]
        missing = [i for i in range(len(calls)) if i not in by_id]
        if missing:
            raise RuntimeError(f"JSON-RPC batch response missing ids {missing}")
        return [by_id[i] for i in range(len(calls))]


def _hx(v: str | None) -> int | None:
    return None if v is None else int(v, 16)


def raw_block_from_rpc(result: dict[str, Any]) -> dict[str, Any]:
    """eth_getBlockByNumber result → RAW_BLOCK record: quantity fields are
    hex strings on the wire; wei-scale quantities decode through Python int
    (arbitrary precision) into Decimal for the DECIMAL(38,0) columns."""
    return {
        "number": _hx(result["number"]),
        "hash": result["hash"],
        "parent_hash": result["parentHash"],
        "nonce": result.get("nonce"),
        "sha3_uncles": result.get("sha3Uncles"),
        "logs_bloom": result.get("logsBloom"),
        "transactions_root": result.get("transactionsRoot"),
        "state_root": result.get("stateRoot"),
        "receipts_root": result.get("receiptsRoot"),
        "miner": result.get("miner"),
        "difficulty": Decimal(_hx(result.get("difficulty")) or 0),
        "total_difficulty": Decimal(_hx(result.get("totalDifficulty")) or 0),
        "size": _hx(result.get("size")),
        "extra_data": result.get("extraData"),
        "gas_limit": _hx(result.get("gasLimit")),
        "gas_used": _hx(result.get("gasUsed")),
        "base_fee_per_gas": _hx(result.get("baseFeePerGas")),
        "timestamp": _hx(result.get("timestamp")),
        "transaction_count": len(result.get("transactions", [])),
    }


def raw_transaction_from_rpc(
    tx: dict[str, Any], block_timestamp: int | None
) -> dict[str, Any]:
    """eth_getBlockByNumber(full=True) tx object → RAW_TRANSACTION record."""
    return {
        "hash": tx["hash"],
        "nonce": _hx(tx.get("nonce")),
        "block_hash": tx.get("blockHash"),
        "block_number": _hx(tx.get("blockNumber")),
        "transaction_index": _hx(tx.get("transactionIndex")),
        "from_address": tx.get("from"),
        "to_address": tx.get("to"),
        "value": Decimal(_hx(tx.get("value")) or 0),
        "gas": _hx(tx.get("gas")),
        "gas_price": Decimal(_hx(tx.get("gasPrice")) or 0),
        "input": tx.get("input"),
        "block_timestamp": block_timestamp,
        "max_fee_per_gas": _hx(tx.get("maxFeePerGas")),
        "max_priority_fee_per_gas": _hx(tx.get("maxPriorityFeePerGas")),
        "transaction_type": _hx(tx.get("type")),
    }


def raw_receipt_from_rpc(r: dict[str, Any]) -> dict[str, Any]:
    """eth_getBlockReceipts receipt object → RAW_RECEIPT record."""
    return {
        "transaction_hash": r["transactionHash"],
        "cumulative_gas_used": Decimal(_hx(r.get("cumulativeGasUsed")) or 0),
        "gas_used": Decimal(_hx(r.get("gasUsed")) or 0),
        "contract_address": r.get("contractAddress"),
        "root": r.get("root"),
        "status": _hx(r.get("status")),
        "effective_gas_price": _hx(r.get("effectiveGasPrice")),
    }


def raw_log_from_rpc(lg: dict[str, Any]) -> dict[str, Any]:
    """Receipt-embedded log object → RAW_LOG record."""
    return {
        "transaction_hash": lg.get("transactionHash"),
        "block_number": _hx(lg.get("blockNumber")),
        "block_hash": lg.get("blockHash"),
        "address": lg.get("address"),
        "data": lg.get("data"),
        "topics": lg.get("topics"),
        "log_index": _hx(lg.get("logIndex")),
        "transaction_index": _hx(lg.get("transactionIndex")),
    }


def raw_trace_from_rpc(t: dict[str, Any], trace_index: int) -> dict[str, Any]:
    """trace_block (parity-style) item → RAW_TRACE record: nested
    action/result flattened, status derived from error, trace_id composed
    as type_txhash_traceaddress (the ethereum-etl convention)."""
    action = t.get("action") or {}
    result = t.get("result") or {}
    addr = t.get("traceAddress") or []
    tx_hash = t.get("transactionHash")
    trace_id = "_".join(
        [t.get("type", ""), tx_hash or "genesis", *[str(a) for a in addr]]
    )
    return {
        "transaction_hash": tx_hash,
        "block_number": t.get("blockNumber"),
        "transaction_index": t.get("transactionPosition"),
        "from_address": action.get("from") or action.get("author"),
        "to_address": action.get("to"),
        "value": Decimal(_hx(action.get("value")) or 0),
        "input": action.get("input"),
        "output": result.get("output"),
        "trace_type": t.get("type"),
        "call_type": action.get("callType"),
        "reward_type": action.get("rewardType"),
        "gas": _hx(action.get("gas")),
        "gas_used": _hx(result.get("gasUsed")),
        "subtraces": t.get("subtraces"),
        "trace_address": addr,
        "error": t.get("error"),
        "status": 0 if t.get("error") else 1,
        "trace_id": trace_id,
        "trace_index": trace_index,
    }


def rpc_block_fetcher(transport: JsonRpcTransport) -> BatchFetcher:
    """BatchFetcher over a real transport: ONE batched POST per id-chunk
    (eth_getBlockByNumber, full transaction objects), decoded to RAW_BLOCK
    records."""

    def fetch(block_ids: list[int]) -> list[dict[str, Any]]:
        calls = [
            ("eth_getBlockByNumber", [hex(b), True]) for b in block_ids
        ]
        return [raw_block_from_rpc(r) for r in transport.request_batch(calls)]

    return fetch


def _decode_chain(
    transport: JsonRpcTransport, block_ids: list[int]
) -> dict[str, list[dict[str, Any]]]:
    """Every raw entity of ``block_ids`` from ONE batched POST per method:
    eth_getBlockByNumber (full tx objects) yields the blocks and their
    transactions (block timestamp attached, the reference's enrichment
    input shape); eth_getBlockReceipts (one call per BLOCK, the modern
    replacement for the reference's per-tx eth_getTransactionReceipt
    fan-out) yields the receipts and their embedded logs; trace_block
    yields the traces, trace_index enumerating within each block (the
    reference's ordering contract)."""
    hexes = [hex(b) for b in block_ids]
    blocks = transport.request_batch(
        [("eth_getBlockByNumber", [h, True]) for h in hexes]
    )
    receipts = [
        r
        for rs in transport.request_batch(
            [("eth_getBlockReceipts", [h]) for h in hexes]
        )
        for r in rs or []
    ]
    traces = transport.request_batch([("trace_block", [h]) for h in hexes])
    return {
        "blocks": [raw_block_from_rpc(b) for b in blocks],
        "transactions": [
            raw_transaction_from_rpc(tx, _hx(b.get("timestamp")))
            for b in blocks
            for tx in b.get("transactions", [])
            if isinstance(tx, dict)
        ],
        "receipts": [raw_receipt_from_rpc(r) for r in receipts],
        "logs": [
            raw_log_from_rpc(lg) for r in receipts for lg in r.get("logs", [])
        ],
        "traces": [
            raw_trace_from_rpc(t, i)
            for ts in traces
            for i, t in enumerate(ts or [])
        ],
    }


# The raw entity frames of a chain batch, by ChainSource key.
CHAIN_ENTITIES: dict[str, T.StructType] = {
    "blocks": RAW_BLOCK,
    "transactions": RAW_TRANSACTION,
    "receipts": RAW_RECEIPT,
    "logs": RAW_LOG,
    "traces": RAW_TRACE,
}


def _wire_type(dt: T.DataType) -> T.DataType:
    """Integers at bigint width: the fetch stores what the node sent, and
    only a consumed entity frame narrows it to its RAW_* type (and fails
    there on an out-of-range value, as a per-entity fetch did)."""
    if isinstance(dt, (T.IntegerType, T.ShortType)):
        return T.LongType()
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_wire_type(dt.elementType), dt.containsNull)
    return dt


# The fetch's output: one row per decoded record, ``kind`` naming its
# ChainSource key and the struct column of that name holding it (the other
# structs are null).
CHAIN_ENVELOPE = T.StructType(
    [T.StructField("kind", T.StringType())]
    + [
        T.StructField(
            kind,
            T.StructType(
                [T.StructField(f.name, _wire_type(f.dataType)) for f in schema]
            ),
        )
        for kind, schema in CHAIN_ENTITIES.items()
    ]
)

# Per entity: the envelope projection back to its RAW_* schema.
_ENTITY_EXPRS: dict[str, list[str]] = {
    kind: [
        f"CAST(`{kind}`.`{f.name}` AS {f.dataType.simpleString()}) AS `{f.name}`"
        for f in schema
    ]
    for kind, schema in CHAIN_ENTITIES.items()
}


def _envelope_batch(
    schema: pa.Schema, kind: str, records: list[dict[str, Any]]
) -> pa.RecordBatch:
    n = len(records)
    cols = [pa.array([kind] * n, pa.string())] + [
        pa.array(records, f.type) if f.name == kind else pa.nulls(n, f.type)
        for f in list(schema)[1:]
    ]
    return pa.RecordBatch.from_arrays(cols, schema=schema)


def _id_range(
    spark: SparkSession, start_block: int, end_block: int, tasks: int | None
) -> DataFrame:
    n_ids = end_block - start_block + 1
    if tasks is None:
        tasks = max(1, min(spark.sparkContext.defaultParallelism, n_ids))
    return spark.range(start_block, end_block + 1, 1, tasks)


def fetch_chain(
    spark: SparkSession,
    start_block: int,
    end_block: int,
    transport: JsonRpcTransport,
    rpc_batch_size: int = 50,
    tasks: int | None = None,
) -> DataFrame:
    """Distributed extraction of every entity of [start_block, end_block]
    in ONE Python stage: each task fetches its ids in ``rpc_batch_size``
    chunks, one POST per method per chunk (``_decode_chain``), and emits
    ``CHAIN_ENVELOPE`` Arrow batches."""
    arrow_schema = to_arrow_schema(CHAIN_ENVELOPE)

    def fetch_partition(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            block_ids = rb.column("id").to_pylist()
            for lo in range(0, len(block_ids), rpc_batch_size):
                chunk = block_ids[lo : lo + rpc_batch_size]
                for kind, records in _decode_chain(transport, chunk).items():
                    if records:
                        yield _envelope_batch(arrow_schema, kind, records)

    return _id_range(spark, start_block, end_block, tasks).mapInArrow(
        fetch_partition, CHAIN_ENVELOPE
    )


class ChainBatch(dict):
    """A chain source's batch, ``{entity: DataFrame}``, whose frames all
    read one persisted fetch. ``release()`` unpersists it;
    ``transform_and_write_batch`` calls it when the batch returns, and a
    caller that reads the frames any other way calls it when done."""

    def __init__(self, frames: dict[str, DataFrame], fetched: DataFrame):
        super().__init__(frames)
        self._fetched = fetched

    def release(self) -> None:
        self._fetched.unpersist()


def fetch_entity(
    spark: SparkSession,
    start_block: int,
    end_block: int,
    fetcher: BatchFetcher,
    schema,
    rpc_batch_size: int = 50,
    tasks: int | None = None,
) -> DataFrame:
    """Distributed extraction: partition [start_block, end_block] into tasks,
    fetch each task's ids in ``rpc_batch_size`` chunks (mirroring the
    reference's batch_size=50, eth_cassandra_streaming.py:586), emit Arrow
    batches with the given raw-entity schema."""
    ids = _id_range(spark, start_block, end_block, tasks)
    fields = [f.name for f in schema.fields]

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            block_ids = pdf["id"].tolist()
            for lo in range(0, len(block_ids), rpc_batch_size):
                chunk = block_ids[lo : lo + rpc_batch_size]
                records = fetcher(chunk)
                out = pd.DataFrame.from_records(records, columns=fields)
                yield out

    return ids.mapInPandas(fetch_partition, schema=schema)


def fetch_blocks(
    spark: SparkSession,
    start_block: int,
    end_block: int,
    fetcher: BatchFetcher,
    rpc_batch_size: int = 50,
    tasks: int | None = None,
) -> DataFrame:
    """S1 blocks via ``fetch_entity`` with the RAW_BLOCK schema."""
    return fetch_entity(
        spark, start_block, end_block, fetcher, RAW_BLOCK, rpc_batch_size, tasks
    )


# The DAO hard-fork block and the WithdrawDAO refund contract: at the fork,
# clients moved every DAO child-account balance into the refund contract as
# irregular state changes with NO transactions — the same reason genesis
# allocations are invisible to trace_block. ethereum-etl synthesizes both as
# 'genesis'/'daofork' trace rows (the reference enables this with
# include_genesis_traces/include_daofork_traces,
# eth_cassandra_streaming.py:162-163, called with True, True at :626).
GENESIS_BLOCK = 0
DAOFORK_BLOCK = 1_920_000
DAOFORK_REFUND_CONTRACT = "0xbf4ed7b27f1d666546e30d74d50d173d20bca754"


def _synthetic_trace_rows(
    block_number: int,
    trace_type: str,
    transfers: list[tuple[str | None, str, int]],
) -> list[dict[str, Any]]:
    """RAW_TRACE-shaped rows for value moves that never had a transaction:
    (from_address, to_address, value_wei) triples become status-1 traces with
    trace_id '<type>_<to|from>' (the ethereum-etl id convention), empty
    trace_address, and trace_index enumerating within the block."""
    rows: list[dict[str, Any]] = []
    for i, (from_addr, to_addr, value_wei) in enumerate(transfers):
        id_addr = to_addr if trace_type == "genesis" else (from_addr or to_addr)
        rows.append(
            {
                "transaction_hash": None,
                "block_number": block_number,
                "transaction_index": None,
                "from_address": from_addr,
                "to_address": to_addr,
                "value": Decimal(value_wei),
                "input": None,
                "output": None,
                "trace_type": trace_type,
                "call_type": None,
                "reward_type": None,
                "gas": None,
                "gas_used": None,
                "subtraces": 0,
                "trace_address": [],
                "error": None,
                "status": 1,
                "trace_id": f"{trace_type}_{id_addr}",
                "trace_index": i,
            }
        )
    return rows


def genesis_traces(
    spark: SparkSession, allocations: list[tuple[str, int]]
) -> DataFrame:
    """S3 synthetic genesis traces: one 'genesis' trace per allocation
    (address, value_wei) in block 0 — the pre-mine state trace_block can
    never return. The mainnet allocation list ships with any client's
    genesis.json; callers supply it (or a test fixture)."""
    rows = _synthetic_trace_rows(
        GENESIS_BLOCK, "genesis", [(None, addr, wei) for addr, wei in allocations]
    )
    return spark.createDataFrame(rows, RAW_TRACE)


def daofork_traces(
    spark: SparkSession,
    balances: list[tuple[str, int]],
    refund_contract: str = DAOFORK_REFUND_CONTRACT,
) -> DataFrame:
    """S3 synthetic DAO-fork traces: one 'daofork' trace per DAO child
    account (address, balance_wei) moving its balance into the WithdrawDAO
    refund contract at block 1,920,000 — irregular state changes with no
    transactions, invisible to trace_block."""
    rows = _synthetic_trace_rows(
        DAOFORK_BLOCK,
        "daofork",
        [(addr, refund_contract, wei) for addr, wei in balances],
    )
    return spark.createDataFrame(rows, RAW_TRACE)


def rpc_chain_source(
    transport: JsonRpcTransport,
    rpc_batch_size: int = 50,
    genesis_allocations: list[tuple[str, int]] | None = None,
    daofork_balances: list[tuple[str, int]] | None = None,
):
    """ChainSource over a live transport: ``(spark, lo, hi) -> {entity:
    DataFrame}`` — plug directly into ``run_incremental`` to ingest a real
    chain with the same micro-batch/resume/marker semantics the synthetic
    generator exercises. A batch is ONE distributed fetch (``fetch_chain``:
    one POST per method per ``rpc_batch_size`` chunk, the reference's
    per-batch shape, eth_cassandra_streaming.py:622-626), persisted and
    returned as a ``ChainBatch`` whose entity frames each select their
    ``kind`` from it, so every answer is fetched once however many writes
    and hooks read the batch. ``transform_and_write_batch`` releases it.

    When ``genesis_allocations`` / ``daofork_balances`` are provided, the
    trace frame for a batch covering block 0 / block 1,920,000 additionally
    carries the synthetic 'genesis' / 'daofork' traces (reference parity:
    include_genesis_traces/include_daofork_traces are both True in the
    reference's ingest, so a from-genesis backfill without these rows would
    silently lack every pre-mine allocation and the DAO refund moves)."""

    def source(spark: SparkSession, lo: int, hi: int) -> ChainBatch:
        fetched = fetch_chain(spark, lo, hi, transport, rpc_batch_size).persist()
        frames = {
            kind: fetched.where(f"kind = '{kind}'").selectExpr(*exprs)
            for kind, exprs in _ENTITY_EXPRS.items()
        }
        if genesis_allocations and lo <= GENESIS_BLOCK <= hi:
            frames["traces"] = genesis_traces(
                spark, genesis_allocations
            ).unionByName(frames["traces"])
        if daofork_balances and lo <= DAOFORK_BLOCK <= hi:
            frames["traces"] = frames["traces"].unionByName(
                daofork_traces(spark, daofork_balances)
            )
        return ChainBatch(frames, fetched)

    return source


# ---------------------------------------------------------------------------
# S6 head / cutoff probes (driver-side, one tiny RPC each)
# ---------------------------------------------------------------------------


def node_head(transport: JsonRpcTransport) -> int:
    """Last synced block of the node (eth_blockNumber) — the reference's
    get_last_synced_block (eth_cassandra_streaming.py:191-194)."""
    [head_hex] = transport.request_batch([("eth_blockNumber", [])])
    return int(head_hex, 16)


def block_timestamp(transport: JsonRpcTransport, block_id: int) -> int:
    """Epoch-seconds timestamp of one block (header-only fetch)."""
    [blk] = transport.request_batch(
        [("eth_getBlockByNumber", [hex(block_id), False])]
    )
    return int(blk["timestamp"], 16)


def last_block_before(
    transport: JsonRpcTransport, cutoff_ts: int, head: int
) -> int:
    """Largest block id with timestamp < ``cutoff_ts`` — the reference's
    get_last_block_yesterday (eth_cassandra_streaming.py:197-211: cutoff =
    today's UTC midnight, used by the -p/--previous_day flag so a daily
    ingest never splits a calendar day). Binary search over the chain's
    monotone timestamps: O(log head) header fetches instead of a scan.

    Returns -1 if even block 0 is at/after the cutoff (nothing to ingest).
    """
    if block_timestamp(transport, 0) >= cutoff_ts:
        return -1
    if block_timestamp(transport, head) < cutoff_ts:
        return head
    # invariant: ts(lo) < cutoff <= ts(hi)
    lo, hi = 0, head
    while hi - lo > 1:
        mid = (lo + hi) // 2
        if block_timestamp(transport, mid) < cutoff_ts:
            lo = mid
        else:
            hi = mid
    return lo

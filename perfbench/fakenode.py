"""In-process fake Ethereum JSON-RPC node for the ``ingest`` workload.

``render_chain(seed, n_blocks)`` builds blocks ``FIRST_BLOCK ..
FIRST_BLOCK + n_blocks - 1`` at the density of Ethereum mainnet in October
2020 (block 11,000,000 was mined on 6 October 2020). Two figures come from
public sources: Etherscan's daily charts (etherscan.io/chart/tx and
etherscan.io/chart/blocks) show about 1.1-1.3 million transactions over
about 6,400-6,600 blocks a day in Q4 2020, a mean of about 185
transactions per block, in blocks filled close to the 12.5 M gas limit
(etherscan.io/chart/gaslimit). Every other rate below is chosen, not
measured, and is marked so. The transactions-per-block counts are the same
multiset for every seed, in a seeded order, so every seed carries the same
number of transactions. Every answer is rendered to JSON text up front and
pickled, so serving a call is a dictionary lookup.

``FakeNode`` is the ``rpc_post`` hook (``bytes -> bytes``). The package's
extraction runs in Spark's Python workers, so the node is pickled there,
loads the pre-rendered answers once per worker process, and appends one
line per HTTP round trip to a per-process log: its own time, the response
size and the (method, block) pairs it served. ``read_log`` sums them.
"""

from __future__ import annotations

import json
import os
import pickle
import random
import statistics
import time

TABLES = ("block", "transaction", "log", "trace")

FIRST_BLOCK = 11_000_000
FIRST_TIMESTAMP = 1_601_968_000  # 2020-10-06
TX_PER_BLOCK = 185  # mean, from the Etherscan daily charts (above)
TX_PER_BLOCK_SD = 50  # chosen
EMPTY_BLOCKS = 0.02  # chosen
PLAIN_TRANSFERS = 0.35  # chosen: 21,000-gas ether transfers, no logs
CREATIONS = 0.01  # chosen
REVERTED_CALLS = 0.03  # chosen
LOGS_PER_CALL = (0, 1, 1, 1, 2, 2, 3, 4, 6)  # chosen, uniform over these
SUBCALLS_PER_CALL = (0, 0, 1, 1, 2, 3, 5)  # chosen, uniform over these


def _addr(rng: random.Random, pool: list[str]) -> str:
    # Zipf-like reuse: low indices are picked far more often
    return pool[min(int(rng.paretovariate(1.2)) - 1, len(pool) - 1)]


def _h256(rng: random.Random) -> str:
    return f"0x{rng.getrandbits(256):064x}"


def _tx_counts(rng: random.Random, n_blocks: int) -> list[int]:
    """Transactions per block: ``EMPTY_BLOCKS`` of the blocks empty, the
    rest the quantiles of a normal distribution around ``TX_PER_BLOCK`` —
    the same multiset for every seed, in a seeded order."""
    dist = statistics.NormalDist(TX_PER_BLOCK, TX_PER_BLOCK_SD)
    n_empty = round(n_blocks * EMPTY_BLOCKS)
    full = n_blocks - n_empty
    counts = [0] * n_empty + [
        max(1, round(dist.inv_cdf((k + 0.5) / full))) for k in range(full)
    ]
    rng.shuffle(counts)
    return counts


def render_chain(seed: int, n_blocks: int):
    """Pre-rendered answers ``{(method, block): json_text}`` plus the
    per-table checksums ``{table: [rows, sum(block_id), extra]}`` an ingest
    of the ``n_blocks`` blocks from ``FIRST_BLOCK`` must reproduce.
    ``extra`` is the transaction count for blocks, the summed wei value for
    transactions and traces, and the summed topic count for logs."""
    rng = random.Random(seed)
    pool = [f"0x{rng.getrandbits(160):040x}" for _ in range(2000)]
    head = FIRST_BLOCK + n_blocks - 1
    answers: dict[tuple[str, int], str] = {("eth_blockNumber", -1): json.dumps(hex(head))}
    expect = {t: [0, 0, 0] for t in TABLES}
    parent = _h256(rng)
    for k, n_tx in enumerate(_tx_counts(rng, n_blocks)):
        num = FIRST_BLOCK + k
        bhash = _h256(rng)
        txs, receipts, traces = [], [], []
        cumulative = 0
        miner = _addr(rng, pool)
        for i in range(n_tx):
            plain = rng.random() < PLAIN_TRANSFERS
            create = not plain and rng.random() < CREATIONS
            reverted = not plain and rng.random() < REVERTED_CALLS
            value = rng.randrange(10**21) if plain or rng.random() < 0.2 else 0
            gas_used = 21_000 if plain else rng.randrange(30_000, 400_000)
            cumulative += gas_used
            sender = _addr(rng, pool)
            to = None if create else _addr(rng, pool)
            txh = _h256(rng)
            legacy = rng.random() < 0.3
            tx = {
                "hash": txh, "nonce": hex(rng.randrange(5000)),
                "blockHash": bhash, "blockNumber": hex(num),
                "transactionIndex": hex(i), "from": sender, "to": to,
                "value": hex(value), "gas": hex(gas_used + 10_000),
                "gasPrice": hex(rng.randrange(10**9, 10**11)),
                "input": "0x" if plain
                else "0xa9059cbb" + f"{rng.getrandbits(256):064x}",
                "type": "0x0" if legacy else "0x2",
            }
            if not legacy:
                tx["maxFeePerGas"] = hex(rng.randrange(10**9, 10**11))
                tx["maxPriorityFeePerGas"] = hex(rng.randrange(10**8, 10**9))
            txs.append(tx)
            logs = []
            n_logs = 0 if plain or reverted else rng.choice(LOGS_PER_CALL)
            for li in range(n_logs):
                shape = rng.random()
                topics = (
                    None if shape < 0.05
                    else [] if shape < 0.15
                    else [_h256(rng) for _ in range(rng.randrange(1, 5))]
                )
                logs.append({
                    "transactionHash": txh, "blockNumber": hex(num),
                    "blockHash": bhash, "address": _addr(rng, pool),
                    "data": "0x" + f"{rng.getrandbits(256):064x}",
                    "topics": topics, "logIndex": hex(li),
                    "transactionIndex": hex(i),
                })
                expect["log"][0] += 1
                expect["log"][1] += num
                expect["log"][2] += len(topics or [])
            contract = f"0x{rng.getrandbits(160):040x}" if create else None
            receipts.append({
                "transactionHash": txh, "cumulativeGasUsed": hex(cumulative),
                "gasUsed": hex(gas_used), "contractAddress": contract,
                "status": "0x0" if reverted else "0x1",
                "effectiveGasPrice": hex(rng.randrange(10**9, 10**11)),
                "logs": logs,
            })
            n_sub = 0 if plain else rng.choice(SUBCALLS_PER_CALL)
            calls = [([], value)] + [([j], rng.randrange(10**18)) for j in range(n_sub)]
            for addr_path, v in calls:
                top = not addr_path
                if create and top:
                    action = {"from": sender, "value": hex(v), "gas": hex(gas_used),
                              "init": "0x6080"}
                    result = None if reverted else {
                        "gasUsed": hex(gas_used), "code": "0x6080", "address": contract}
                    kind = "create"
                else:
                    action = {"from": sender, "to": to or contract or _addr(rng, pool),
                              "value": hex(v), "gas": hex(gas_used), "input": "0x",
                              "callType": "call"}
                    result = None if reverted else {"gasUsed": hex(gas_used), "output": "0x"}
                    kind = "call"
                traces.append({
                    "action": action, "result": result, "type": kind,
                    "traceAddress": addr_path,
                    "subtraces": len(calls) - 1 if top else 0,
                    "transactionHash": txh, "transactionPosition": i,
                    "blockNumber": num, "blockHash": bhash,
                    "error": "Reverted" if reverted else None,
                })
                expect["trace"][0] += 1
                expect["trace"][1] += num
                expect["trace"][2] += v
            expect["transaction"][0] += 1
            expect["transaction"][1] += num
            expect["transaction"][2] += value
        reward = 2 * 10**18
        traces.append({
            "action": {"author": miner, "value": hex(reward), "rewardType": "block"},
            "result": None, "type": "reward", "traceAddress": [], "subtraces": 0,
            "transactionHash": None, "transactionPosition": None,
            "blockNumber": num, "blockHash": bhash, "error": None,
        })
        expect["trace"][0] += 1
        expect["trace"][1] += num
        expect["trace"][2] += reward
        block = {
            "number": hex(num), "hash": bhash, "parentHash": parent,
            "nonce": "0x0000000000000042", "sha3Uncles": _h256(rng),
            "logsBloom": "0x" + "00" * 256, "transactionsRoot": _h256(rng),
            "stateRoot": _h256(rng), "receiptsRoot": _h256(rng), "miner": miner,
            "difficulty": hex(3 * 10**15 + k), "totalDifficulty": hex(10**22 + k),
            "size": hex(600 + 110 * n_tx), "extraData": "0x",
            "gasLimit": hex(12_500_000), "gasUsed": hex(cumulative),
            "baseFeePerGas": hex(7 + k % 1000),
            "timestamp": hex(FIRST_TIMESTAMP + 13 * k),
            "transactions": txs,
        }
        parent = bhash
        answers[("eth_getBlockByNumber", num)] = json.dumps(block)
        answers[("eth_getBlockReceipts", num)] = json.dumps(receipts)
        answers[("trace_block", num)] = json.dumps(traces)
        expect["block"][0] += 1
        expect["block"][1] += num
        expect["block"][2] += n_tx
    return answers, expect


# Per worker process: a FakeNode is unpickled afresh for every task, so the
# loaded answers are cached here to load them once per process.
_STORES: dict[str, dict] = {}


class FakeNode:
    """``rpc_post`` stand-in serving a pickled ``render_chain`` store."""

    def __init__(self, store_path: str, log_dir: str):
        self.store_path = store_path
        self.log_dir = log_dir

    def __call__(self, body: bytes) -> bytes:
        t0 = time.perf_counter()
        store = _STORES.get(self.store_path)
        if store is None:
            with open(self.store_path, "rb") as fh:
                store = _STORES[self.store_path] = pickle.load(fh)
        parts, served = [], []
        for call in json.loads(body):
            params = call["params"]
            key = (call["method"], int(params[0], 16) if params else -1)
            parts.append(
                '{"jsonrpc":"2.0","id":%d,"result":%s}' % (call["id"], store[key])
            )
            served.append(key)
        out = ("[" + ",".join(parts) + "]").encode()
        line = json.dumps({"s": time.perf_counter() - t0, "b": len(out), "k": served})
        with open(os.path.join(self.log_dir, f"{os.getpid()}.jsonl"), "a") as fh:
            fh.write(line + "\n")
        return out


def read_log(log_dir: str) -> dict[str, float]:
    """Totals over every process's log: calls, unique (method, block)
    fetches, response bytes and the node's own seconds."""
    calls, seen, nbytes, secs = 0, set(), 0, 0.0
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                rec = json.loads(line)
                calls += len(rec["k"])
                seen.update(map(tuple, rec["k"]))
                nbytes += rec["b"]
                secs += rec["s"]
    return {"calls": calls, "unique": len(seen), "bytes": nbytes, "seconds": secs}


def write_store(answers: dict, path: str) -> None:
    with open(path, "wb") as fh:
        pickle.dump(answers, fh, protocol=pickle.HIGHEST_PROTOCOL)

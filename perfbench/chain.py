"""Seeded JSON-RPC fixtures for the ``sync_serve`` workload, plus the
balance model the served answers are checked against.

:func:`write_fixtures` lays out the ``{method}_{param0}.json`` directory
``sources.rpc.FileJsonRpcTransport`` reads:

- ``eth_getBlockByNumber_<hex>``: block timestamp and its transactions
  with ``gasPrice`` (both block fetchers read the same file);
- ``trace_block_<hex>``: one top-level call per transaction, some
  sub-calls, a few reverted calls (their descendants must not count),
  a few creates whose code carries the ERC-20 selectors, and the block
  (and sometimes uncle) reward;
- ``eth_getLogs_<lo>-<hi>``: every aligned ``range_size`` window, with
  ERC-20 ``Transfer`` logs of the seeded tokens, Transfer logs of an
  unlisted contract and non-Transfer logs (both must be ignored).

The generator keeps every value it writes, so :class:`ChainModel` can
compute, for any chain head, what the balances API must answer:
income - outcome + reward - fee + fee_reward, floored at 0, and token
balances as incoming minus outgoing transfers. The same seed always
writes a byte-identical directory.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

TRANSFER_TOPIC = (
    "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
)
OTHER_TOPIC = "0x" + "ab" * 32
# ERC-20 function selectors (totalSupply, balanceOf, allowance, transfer,
# approve, transferFrom) so derived.contracts flags the created contract
ERC20_CODE = (
    "0x6080604052"
    "18160ddd" "70a08231" "dd62ed3e" "a9059cbb" "095ea7b3" "23b872dd"
    "00"
)
GENESIS_TS = 1_600_000_000
WEI = 10**18


# fixture shape: every sync pass ingests BLOCKS_PER_PASS blocks; logs are
# served on aligned RANGE_SIZE windows, which must divide BLOCKS_PER_PASS
BLOCKS_PER_PASS = 20
RANGE_SIZE = 10
TX_PER_BLOCK = 6
LOGS_PER_BLOCK = 4
N_ADDRESSES = 150
N_MINERS = 6
TOKEN_DECIMALS = (18, 6, 8, 18)


def head(passes: int) -> int:
    """Chain head after ``passes`` sync passes (blocks 0..head)."""
    return passes * BLOCKS_PER_PASS - 1


@dataclass
class ChainModel:
    """What the warehouse must serve, per block, as the generator wrote it."""

    tokens: list[tuple[str, int]]  # (address, decimals) of the dimension
    # block -> [(address, ether amount, term)]: term is one of the five
    # balance terms, or "seen" for an address in the served universe
    deltas: dict[int, list[tuple[str, float, str]]] = field(default_factory=dict)
    # block -> [(token, from, to, value)] for listed-token transfers
    transfers: dict[int, list[tuple[str, str, str, float]]] = field(
        default_factory=dict
    )
    addresses: list[str] = field(default_factory=list)

    def balances(self, head: int) -> dict[str, float]:
        parts: dict[str, dict[str, float]] = {}
        seen: set[str] = set()
        for b in range(head + 1):
            for addr, amount, part in self.deltas.get(b, ()):
                seen.add(addr)
                comp = parts.setdefault(part, {})
                comp[addr] = comp.get(addr, 0.0) + amount
        out = {}
        for a in seen:
            total = (
                parts.get("income", {}).get(a, 0.0)
                - parts.get("outcome", {}).get(a, 0.0)
                + parts.get("reward", {}).get(a, 0.0)
                - parts.get("fee", {}).get(a, 0.0)
                + parts.get("fee_reward", {}).get(a, 0.0)
            )
            out[a] = max(total, 0.0)
        return out

    def token_balances(self, head: int, token: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for b in range(head + 1):
            for tok, src, dst, value in self.transfers.get(b, ()):
                if tok != token:
                    continue
                out[src] = out.get(src, 0.0) - value
                out[dst] = out.get(dst, 0.0) + value
        return out


def _hex_bytes(rng, n: int) -> str:
    return "0x" + bytes(rng.integers(0, 256, n, dtype=np.uint8)).hex()


def _topic(addr: str) -> str:
    return "0x" + "0" * 24 + addr[2:]


def _word(amount: int) -> str:
    return "0x" + format(amount, "064x")


def _dump(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))


def write_fixtures(seed: int, out_dir: str, passes: int) -> ChainModel:
    """Write fixtures for ``passes`` sync passes; return the balance model."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    addrs = [_hex_bytes(rng, 20) for _ in range(N_ADDRESSES)]
    miners = [_hex_bytes(rng, 20) for _ in range(N_MINERS)]
    tokens = [(_hex_bytes(rng, 20), d) for d in TOKEN_DECIMALS]
    unlisted = _hex_bytes(rng, 20)
    model = ChainModel(tokens=tokens, addresses=addrs + miners)
    last = head(passes)
    logs_by_block: dict[int, list[dict]] = {}
    for n in range(last + 1):
        bh = _hex_bytes(rng, 32)
        deltas: list[tuple[str, float, str]] = []
        model.deltas[n] = deltas
        if n == 0:
            _dump(os.path.join(out_dir, f"eth_getBlockByNumber_{hex(n)}.json"),
                  {"timestamp": None, "transactions": []})
            _dump(os.path.join(out_dir, f"trace_block_{hex(n)}.json"), [])
            continue
        txs, traces = [], []
        block_fee = 0.0
        tx_hashes = []
        for _ in range(TX_PER_BLOCK):
            th = _hex_bytes(rng, 32)
            tx_hashes.append(th)
            gas_price = int(rng.integers(1, 100)) * 10**9
            txs.append({"blockHash": bh, "hash": th, "gasPrice": hex(gas_price)})
            src = addrs[int(rng.integers(0, len(addrs)))]
            kind = rng.random()
            gas_used = int(rng.integers(21_000, 200_000))
            fee = gas_used * (float(gas_price) / 1e18)
            top_failed = kind < 0.04
            if kind > 0.97:  # contract deployment
                traces.append({
                    "action": {"from": src, "gas": hex(300_000), "init": ERC20_CODE,
                               "value": "0x0"},
                    "blockHash": bh, "result": {"address": _hex_bytes(rng, 20),
                                                "code": ERC20_CODE,
                                                "gasUsed": hex(gas_used)},
                    "subtraces": 0, "traceAddress": [], "transactionHash": th,
                    "type": "create",
                })
                deltas.append((src, fee, "fee"))
                block_fee += fee
                continue
            dst = addrs[int(rng.integers(0, len(addrs)))]
            value = int(rng.integers(1, 5_000)) * 10**15
            n_sub = int(rng.integers(1, 3)) if rng.random() < 0.3 else 0
            top = {
                "action": {"callType": "call", "from": src, "gas": hex(250_000),
                           "to": dst, "value": hex(value)},
                "blockHash": bh, "subtraces": n_sub, "traceAddress": [],
                "transactionHash": th, "type": "call",
            }
            if top_failed:
                top["error"] = "Reverted"
            else:
                top["result"] = {"gasUsed": hex(gas_used), "output": "0x"}
                deltas.append((dst, float(value) / 1e18, "income"))
                deltas.append((src, float(value) / 1e18, "outcome"))
                deltas.append((src, fee, "fee"))
                block_fee += fee
            traces.append(top)
            for i in range(n_sub):
                sub_dst = addrs[int(rng.integers(0, len(addrs)))]
                sub_value = int(rng.integers(1, 500)) * 10**15
                sub_failed = rng.random() < 0.1
                sub = {
                    "action": {"callType": "call", "from": dst, "gas": hex(50_000),
                               "to": sub_dst, "value": hex(sub_value)},
                    "blockHash": bh, "subtraces": 0, "traceAddress": [i],
                    "transactionHash": th, "type": "call",
                }
                if sub_failed:
                    sub["error"] = "Out of gas"
                else:
                    sub["result"] = {"gasUsed": hex(9_000), "output": "0x"}
                if not (top_failed or sub_failed):
                    deltas.append((sub_dst, float(sub_value) / 1e18, "income"))
                    deltas.append((dst, float(sub_value) / 1e18, "outcome"))
                traces.append(sub)
        miner = miners[int(rng.integers(0, len(miners)))]
        rewards = [(miner, "block", 2 * WEI)]
        if rng.random() < 0.1:
            rewards.append((miners[int(rng.integers(0, len(miners)))], "uncle",
                            WEI + int(rng.integers(0, WEI // 2))))
        for author, kind, value in rewards:
            traces.append({
                "action": {"author": author, "rewardType": kind, "value": hex(value)},
                "blockHash": bh, "subtraces": 0, "traceAddress": [],
                "transactionHash": None, "type": "reward",
            })
            deltas.append((author, float(value) / 1e18, "reward"))
        deltas.append((miner, block_fee, "fee_reward"))
        # the served address universe is every from/to/author of any trace,
        # reverted ones included
        for t in traces:
            for key in ("from", "to", "author"):
                if t["action"].get(key):
                    deltas.append((t["action"][key], 0.0, "seen"))
        _dump(os.path.join(out_dir, f"eth_getBlockByNumber_{hex(n)}.json"),
              {"timestamp": hex(GENESIS_TS + 13 * n), "transactions": txs})
        _dump(os.path.join(out_dir, f"trace_block_{hex(n)}.json"), traces)
        logs_by_block[n] = _block_logs(rng, n, bh, tx_hashes, addrs,
                                       tokens, unlisted, model)
    for lo in range(0, last + 1, RANGE_SIZE):
        hi = lo + RANGE_SIZE
        logs = [log for b in range(lo, hi) for log in logs_by_block.get(b, ())]
        _dump(os.path.join(out_dir, f"eth_getLogs_{lo}-{hi}.json"), logs)
    return model


def _block_logs(rng, n, bh, tx_hashes, addrs, tokens, unlisted, model):
    logs = []
    per_tx: dict[str, int] = {}
    transfers = model.transfers.setdefault(n, [])
    for i in range(LOGS_PER_BLOCK + 2):
        th = tx_hashes[int(rng.integers(0, len(tx_hashes)))]
        src = addrs[int(rng.integers(0, len(addrs)))]
        dst = addrs[int(rng.integers(0, len(addrs)))]
        if i < LOGS_PER_BLOCK:
            token, decimals = tokens[int(rng.integers(0, len(tokens)))]
            amount = int(rng.integers(1, 10**6)) * 10 ** max(decimals - 3, 0)
            transfers.append((token, src, dst, float(amount) / 10.0**decimals))
            topics = [TRANSFER_TOPIC, _topic(src), _topic(dst)]
        elif i == LOGS_PER_BLOCK:  # Transfer of a contract not in the dim
            token, amount = unlisted, 10**18
            topics = [TRANSFER_TOPIC, _topic(src), _topic(dst)]
        else:  # some other event of a listed token
            token, amount = tokens[0][0], 1
            topics = [OTHER_TOPIC, _topic(src)]
        tli = per_tx.get(th, 0)
        per_tx[th] = tli + 1
        logs.append({
            "address": token, "blockHash": bh, "blockNumber": hex(n),
            "data": _word(amount), "logIndex": hex(i), "topics": topics,
            "transactionHash": th, "transactionLogIndex": hex(tli),
            "type": "mined",
        })
    return logs

"""Seeded input generator for the benchmark.

Everything the program under test reads is produced here from one
``seed``: the same seed gives byte-identical parquet files, another
seed gives other values with the same sizes and shapes. Shapes follow
the reference-domain fixtures (FIXTURES.md section 1):

- balances: 98-char ``0x`` keys, ~32e9 gwei, contiguous epoch runs
  from a per-key activation epoch (some keys activate late), small
  positive rewards, occasional negative steps and rare slashing dips,
  ~1% of keys with one missing epoch (the gap-stop case);
- withdrawals: sparse, each key skims its excess over 32 ETH every
  10th epoch; the balance drops by the amount withdrawn;
- transfer events: ``"from-to"`` index transfers per key, at most one
  per key and epoch;
- slot withdrawals: the withdrawals at slot grain with a monotone
  ``withdrawal_index``;
- documents: a Zipf vocabulary mixed with English stopwords, some
  punctuation-heavy junk, and planted exact-duplicate (case and
  whitespace variants) and near-duplicate (few-token edits) clusters.

Arrays are drawn with numpy's PCG64 from ``(seed, table)`` streams, so
adding a table never shifts another table's values.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GWEI_32_ETH = 32_000_000_000
GENESIS_BLOCK = 1_000_000
FIRST_EPOCH = 100_000
SLOTS_PER_EPOCH = 32
N_INDEXES = 24
VOCAB = 4000  # distinct non-stopword tokens in a corpus


def rng(seed: int, table: str) -> np.random.Generator:
    """One independent, reproducible stream per (seed, table)."""
    return np.random.default_rng(zlib.crc32(f"{table}:{seed}".encode()))


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(table.num_rows // 8, 1024))


def bls_keys(r: np.random.Generator, n: int) -> np.ndarray:
    raw = r.integers(0, 256, size=(n, 48), dtype=np.uint8)
    return np.array(["0x" + bytes(row).hex() for row in raw])


@dataclass(frozen=True)
class Chain:
    """The whole beacon history of ``n_keys`` validators over
    ``n_epochs`` epochs, as dense per-(key, epoch) matrices plus the
    mask of rows that exist (after activation, outside gaps)."""

    keys: np.ndarray  # (n_keys,) str
    epochs: np.ndarray  # (n_epochs,) int64
    balance: np.ndarray  # (n_keys, n_epochs) int64 gwei
    withdrawn: np.ndarray  # (n_keys, n_epochs) int64 gwei, 0 = none
    present: np.ndarray  # (n_keys, n_epochs) bool


def chain(seed: int, n_keys: int, n_epochs: int) -> Chain:
    r = rng(seed, "chain")
    keys = bls_keys(r, n_keys)
    epochs = FIRST_EPOCH + np.arange(n_epochs, dtype=np.int64)

    # Rewards ~14k gwei per epoch; 3% missed duties lose a little; rare
    # slashing dips lose 0.5-1 ETH at once.
    step = r.normal(14_000, 3_000, (n_keys, n_epochs)).astype(np.int64)
    missed = r.random((n_keys, n_epochs)) < 0.03
    step[missed] = -r.integers(2_000, 12_000, int(missed.sum()))
    slashed = r.random((n_keys, n_epochs)) < 0.0005
    step[slashed] = -r.integers(500_000_000, 1_000_000_000, int(slashed.sum()))
    step[:, 0] = 0

    # Withdrawal sweep: every 10th epoch at a per-key phase, the excess
    # over 32 ETH leaves the balance (the income job adds it back).
    start = GWEI_32_ETH + r.integers(0, 50_000_000, n_keys)
    phase = r.integers(0, 10, n_keys)
    sweep = (np.arange(n_epochs)[None, :] % 10) == phase[:, None]
    balance = np.empty((n_keys, n_epochs), dtype=np.int64)
    withdrawn = np.zeros((n_keys, n_epochs), dtype=np.int64)
    cur = start.copy()
    for e in range(n_epochs):
        cur = cur + step[:, e]
        skim = np.where(sweep[:, e], np.maximum(cur - GWEI_32_ETH, 0), 0)
        cur = cur - skim
        withdrawn[:, e] = skim
        balance[:, e] = cur

    # 10% of keys activate late; 1% of keys miss one epoch.
    act = np.zeros(n_keys, dtype=np.int64)
    late = r.random(n_keys) < 0.10
    act[late] = r.integers(1, max(int(n_epochs * 0.8), 2), int(late.sum()))
    present = np.arange(n_epochs)[None, :] >= act[:, None]
    gapped = np.flatnonzero(r.random(n_keys) < 0.01)
    for k in gapped:
        hole = int(r.integers(act[k] + 2, n_epochs)) if act[k] + 2 < n_epochs else None
        if hole is not None:
            present[k, hole] = False
    withdrawn[~present] = 0
    return Chain(keys, epochs, balance, withdrawn, present)


def balances_table(c: Chain, lo: int, hi: int) -> pa.Table:
    """Balance rows for epoch columns ``[lo, hi)`` of the chain."""
    ki, ei = np.nonzero(c.present[:, lo:hi])
    return pa.table(
        {
            "bls_key": pa.array(c.keys[ki]),
            "epoch": pa.array(c.epochs[lo + ei], pa.int64()),
            "balance": pa.array(c.balance[ki, lo + ei], pa.int64()),
        }
    )


def withdrawals_table(c: Chain, lo: int, hi: int) -> pa.Table:
    sub = c.withdrawn[:, lo:hi]
    ki, ei = np.nonzero(sub > 0)
    return pa.table(
        {
            "bls_key": pa.array(c.keys[ki]),
            "epoch": pa.array(c.epochs[lo + ei], pa.int64()),
            "values_withdrawals": pa.array(sub[ki, ei].astype(np.float64)),
            "withdrawal_recipient": pa.array(
                ["0x" + format(int(k) * 7919 % 65_536, "040x") for k in ki]
            ),
        }
    )


def slot_withdrawals_table(seed: int, c: Chain) -> pa.Table:
    """Per-slot withdrawals; ``validator`` is the key's ordinal."""
    r = rng(seed, "slots")
    ki, ei = np.nonzero(c.withdrawn > 0)
    order = np.lexsort((ki, ei))
    ki, ei = ki[order], ei[order]
    slot = c.epochs[ei] * SLOTS_PER_EPOCH + r.integers(0, SLOTS_PER_EPOCH, len(ki))
    return pa.table(
        {
            "validator": pa.array(ki.astype(np.int64)),
            "slot": pa.array(slot, pa.int64()),
            "amount": pa.array(c.withdrawn[ki, ei], pa.int64()),
            "withdrawal_index": pa.array(np.arange(len(ki), dtype=np.int64)),
        }
    )


def transfer_events_table(seed: int, c: Chain) -> pa.Table:
    """Each key joins an index at (or a few epochs before) its
    activation, then moves 0-2 times at distinct later epochs."""
    r = rng(seed, "transfers")
    n_keys, n_epochs = c.present.shape
    first = c.present.argmax(axis=1)
    keys, blocks, values = [], [], []
    for k in range(n_keys):
        idx = int(r.integers(1, N_INDEXES + 1))
        e0 = max(int(first[k]) - int(r.integers(0, 4)), 0)
        moves = np.unique(r.integers(e0 + 1, n_epochs, int(r.integers(0, 3))))
        prev = 0
        for e in [e0, *moves.tolist()]:
            keys.append(c.keys[k])
            blocks.append(
                GENESIS_BLOCK
                + int(c.epochs[e]) * SLOTS_PER_EPOCH
                + int(r.integers(0, SLOTS_PER_EPOCH))
            )
            values.append(f"{prev}-{idx}")
            prev, idx = idx, int(r.integers(1, N_INDEXES + 1))
    return pa.table(
        {
            "bls_key": pa.array(keys),
            "block_number": pa.array(blocks, pa.int64()),
            "value": pa.array(values),
        }
    )


def threat_table(seed: int, c: Chain) -> pa.Table:
    """Monitoring rows for ~70% of keys (the rest take defaults)."""
    r = rng(seed, "threat")
    pick = np.flatnonzero(r.random(len(c.keys)) < 0.7)
    return pa.table(
        {
            "bls_key": pa.array(c.keys[pick]),
            "dETHBacking": pa.array(np.round(r.random(len(pick)), 4)),
            "samePosition": pa.array(np.round(r.random(len(pick)), 4)),
            "dETHBalance": pa.array(np.round(r.random(len(pick)) * 4, 4)),
        }
    )


def index_map_table(seed: int, c: Chain) -> pa.Table:
    """(bls_key, savETHIndex) dimension for the top-indexes endpoint;
    ~10% of keys carry no index."""
    r = rng(seed, "index_map")
    idx = r.integers(1, N_INDEXES + 1, len(c.keys)).astype(np.float64)
    idx[r.random(len(c.keys)) < 0.1] = np.nan
    return pa.table(
        {
            "bls_key": pa.array(c.keys),
            "savETHIndex": pa.array(idx, pa.int64(), from_pandas=True),
        }
    )


# --- documents -------------------------------------------------------------
STOPWORDS = ("the", "and", "of", "to", "in", "is", "that", "it", "for", "with")


@dataclass(frozen=True)
class Corpus:
    texts: list[str]
    near_dup_of: dict[int, int]  # planted near-dup doc id -> its source id
    exact_dup_of: dict[int, int]


def corpus(seed: int, n_docs: int, table: str = "documents") -> Corpus:
    r = rng(seed, table)
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    p = ranks**-1.05
    p /= p.sum()
    vocab = np.array([f"w{i:04d}" for i in range(VOCAB)])
    stop = np.array(STOPWORDS)
    lens = np.clip(r.lognormal(4.0, 0.6, n_docs).astype(np.int64), 12, 400)
    texts: list[str] = []
    for i in range(n_docs):
        n = int(lens[i])
        words = vocab[r.choice(VOCAB, n, p=p)]
        is_stop = r.random(n) < 0.3
        words[is_stop] = stop[r.integers(0, len(stop), int(is_stop.sum()))]
        text = " ".join(words)
        if r.random() < 0.05:  # punctuation-heavy junk the quality gate drops
            text = "!!! " + text.replace(" ", " ;; ") + " ???"
        texts.append(text)

    exact: dict[int, int] = {}
    near: dict[int, int] = {}
    for i in range(20, n_docs):
        u = r.random()
        src = int(r.integers(0, i))
        while src in exact or src in near:
            src = exact.get(src, near.get(src, src))
        if u < 0.03:
            # Exact duplicate up to case and whitespace.
            t = texts[src]
            texts[i] = ("  " + t.upper() + " ") if r.random() < 0.5 else t.replace(" ", "   ")
            exact[i] = src
        elif u < 0.08:
            toks = texts[src].split()
            for _ in range(max(1, len(toks) // 50)):
                toks[int(r.integers(0, len(toks)))] = str(vocab[int(r.integers(0, VOCAB))])
            texts[i] = " ".join(toks)
            near[i] = src
    return Corpus(texts, near, exact)


def documents_table(c: Corpus) -> pa.Table:
    n = len(c.texts)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(c.texts),
            "lang": pa.array(["en"] * n),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in c.texts], pa.int64()),
        }
    )

"""Seeded change-log generator, independent of the engine.

Builds change-event logs with numpy and pyarrow only, so the engine under
test receives finished Parquet files and nothing else, and the same seed
gives byte-identical files on any commit of the engine.

A log is a directory of ``seq_part=<n>/seg-<first seq>.parquet`` files,
``seq_part = commit_seq // part_width`` -- the layout the engine's
``open_change_log`` reads.  One file holds one *segment*: the events of
one whole batch (``commit_seq`` in ``[k * width, (k + 1) * width)``),
plus verbatim duplicate deliveries of some of them, in shuffled order
(out-of-order arrival inside the file).

Two log shapes:

- ``tokens``: one row per document, payload versions v1 (native
  ``tokens`` array), v2 (comma-joined string) and v3 (JSON
  ``{"ids": [...]}``);
- ``exploded``: one row per block document with a JSON payload
  ``{"block": [...], "txs": [[...], ...]}``; a delete removes the whole
  document (the engine's ``exploded_cascade`` adapter tombstones every
  child row).

Every segment draws from its own generator seeded with
``(seed, segment index)``, so a segment does not depend on which other
segments were generated before it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOKEN_VOCAB = 50_000
EPOCH_S = 1_700_000_000

LOG_SCHEMA = pa.schema(
    [
        pa.field("commit_seq", pa.int64(), nullable=False),
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("payload", pa.string()),
        pa.field("payload_version", pa.int32(), nullable=False),
        pa.field("source", pa.string()),
        pa.field("extracted_at", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass(frozen=True)
class LogParams:
    """Workload parameters of a generated log."""

    shape: str = "tokens"  # "tokens" | "exploded"
    n_keys: int = 100_000  # documents the events draw from
    zipf_s: float = 1.1  # Zipf exponent of the key draw (0 = uniform)
    delete_share: float = 0.10
    update_share: float = 0.35  # the rest are inserts
    dup_share: float = 0.05  # extra verbatim re-deliveries per segment
    tokens_min: int = 8  # payload width: tokens per (child) row
    tokens_max: int = 32
    version_mix: tuple[float, float, float] = (0.6, 0.25, 0.15)  # v1/v2/v3
    txs_max: int = 4  # exploded: tx children per document, 0..txs_max


def zipf_cdf(n_keys: int, s: float) -> np.ndarray:
    """Cumulative distribution of a Zipf law over ranks 0..n_keys-1."""
    w = 1.0 / np.power(np.arange(1, n_keys + 1, dtype=np.float64), s)
    c = np.cumsum(w)
    return c / c[-1]


class LogGenerator:
    """Deterministic segments of one log: ``segment(k)`` depends only on
    ``(params, seed, width, k)``."""

    def __init__(self, params: LogParams, seed: int, width: int):
        if params.shape not in ("tokens", "exploded"):
            raise ValueError(f"unknown log shape {params.shape!r}")
        self.p = params
        self.seed = int(seed)
        self.width = int(width)
        self._cdf = zipf_cdf(params.n_keys, params.zipf_s)
        # rank -> key: hot ranks scattered over the key space (and so
        # over the table's buckets) by a seeded permutation
        self._rank_key = np.random.default_rng([self.seed, 0x5EED]).permutation(
            params.n_keys
        )

    def _rng(self, k: int, salt: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, salt, k])

    def segment(self, k: int) -> pa.Table:
        """Events of batch ``k`` (seqs ``[k*width, (k+1)*width)``) with
        duplicates, in arrival order."""
        rng = self._rng(k, 1)
        n = self.width
        seqs = np.arange(k * n, (k + 1) * n, dtype=np.int64)
        ranks = np.searchsorted(self._cdf, rng.random(n), side="right")
        keys = self._rank_key[np.minimum(ranks, self.p.n_keys - 1)]
        u = rng.random(n)
        ops = np.where(
            u < self.p.delete_share,
            "D",
            np.where(u < self.p.delete_share + self.p.update_share, "U", "I"),
        )
        return self._finish(rng, seqs, keys, ops)

    def inserts(self, k: int, keys: np.ndarray) -> pa.Table:
        """Batch ``k`` as one insert per key in ``keys`` (len == width):
        the initial load of a table."""
        if len(keys) != self.width:
            raise ValueError("an insert segment holds exactly one batch")
        rng = self._rng(k, 2)
        seqs = np.arange(k * self.width, (k + 1) * self.width, dtype=np.int64)
        return self._finish(rng, seqs, np.asarray(keys), np.full(len(keys), "I"))

    def _finish(self, rng, seqs, keys, ops) -> pa.Table:
        n = len(seqs)
        # verbatim duplicate deliveries of random events of this batch
        n_dup = int(round(n * self.p.dup_share))
        src_idx = np.concatenate([np.arange(n), rng.integers(0, n, n_dup)])
        rows = src_idx[rng.permutation(len(src_idx))]  # out-of-order arrival

        is_del = ops == "D"
        lens = rng.integers(self.p.tokens_min, self.p.tokens_max + 1, n)
        sources = np.array([f"src_{i}" for i in range(4)])[rng.integers(0, 4, n)]
        if self.p.shape == "tokens":
            cols = self._tokens_cols(rng, n, lens, is_del)
            doc = np.char.add("doc_", np.char.zfill(keys.astype(str), 10))
        else:
            cols = self._exploded_cols(rng, n, lens, is_del)
            doc = np.char.add("blk_", np.char.zfill(keys.astype(str), 10))

        def take(values, typ):
            return pa.array(values, type=typ).take(pa.array(rows))

        src = np.where(is_del, None, sources)
        ts = (EPOCH_S + seqs % 86_400) * 1_000_000
        return pa.table(
            {
                "commit_seq": take(seqs, pa.int64()),
                "doc_id": take(doc, pa.string()),
                "op": take(ops, pa.string()),
                "tokens": cols["tokens"].take(pa.array(rows)),
                "payload": take(cols["payload"], pa.string()),
                "payload_version": take(cols["version"], pa.int32()),
                "source": take(src, pa.string()),
                "extracted_at": take(ts, pa.timestamp("us", tz="UTC")),
            },
            schema=LOG_SCHEMA,
        )

    def _token_lists(self, rng, lens) -> list[np.ndarray]:
        flat = rng.integers(0, TOKEN_VOCAB, int(lens.sum()), dtype=np.int32)
        return np.split(flat, np.cumsum(lens)[:-1])

    def _tokens_cols(self, rng, n, lens, is_del) -> dict:
        v1, v2, _ = self.p.version_mix
        u = rng.random(n)
        version = np.where(u < v1, 1, np.where(u < v1 + v2, 2, 3)).astype(np.int32)
        toks = self._token_lists(rng, lens)
        tokens, payload = [], []
        for t, v, d in zip(toks, version, is_del):
            if d:
                tokens.append(None)
                payload.append(None)
            elif v == 1:
                tokens.append(t)
                payload.append(None)
            elif v == 2:
                tokens.append(None)
                payload.append(",".join(map(str, t.tolist())))
            else:
                tokens.append(None)
                payload.append(json.dumps({"ids": t.tolist()}, separators=(",", ":")))
        return {
            "tokens": pa.array(tokens, type=pa.list_(pa.int32())),
            "payload": payload,
            "version": version,
        }

    def _exploded_cols(self, rng, n, lens, is_del) -> dict:
        n_tx = rng.integers(0, self.p.txs_max + 1, n)
        tx_lens = rng.integers(
            self.p.tokens_min, self.p.tokens_max + 1, int(n_tx.sum())
        )
        blocks = self._token_lists(rng, lens)
        txs = self._token_lists(rng, tx_lens) if len(tx_lens) else []
        payload, j = [], 0
        for i in range(n):
            doc_txs = [t.tolist() for t in txs[j:j + n_tx[i]]]
            j += n_tx[i]
            payload.append(
                None
                if is_del[i]
                else json.dumps(
                    {"block": blocks[i].tolist(), "txs": doc_txs},
                    separators=(",", ":"),
                )
            )
        return {
            "tokens": pa.nulls(n, type=pa.list_(pa.int32())),
            "payload": payload,
            "version": np.ones(n, dtype=np.int32),
        }


def segment_path(root: str, k: int, width: int, part_width: int) -> str:
    lo = k * width
    return os.path.join(root, f"seq_part={lo // part_width}", f"seg-{lo:012d}.parquet")


def write_segment(table: pa.Table, path: str) -> int:
    """Write one segment file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)
    return os.path.getsize(path)

"""Seeded input generators and the DuckDB oracle.

Everything a workload feeds the engine comes from here and depends on
the seed alone. The oracle answers from the generator's own rows, never
from what the engine wrote.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa

EVENT_DDL = "event_id bigint, user_id bigint, kind string, amount bigint, msg string"
KINDS = [f"k{i:02d}" for i in range(12)]
EPOCH_S = 1_798_761_600  # 2027-01-01T00:00:00Z


def vocabulary(rng: np.random.Generator, n: int = 4000) -> np.ndarray:
    """*n* distinct random lower-case words, most frequent first. A word's
    length depends on its frequency rank alone (2 letters for rank 0, up
    to 10), as in natural text, so byte counts and compression ratios of
    the generated text do not drift with the seed; only the letters do."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    words: list[bytes] = []
    seen: set[bytes] = set()
    while len(words) < n:
        ln = 2 + min(8, len(words).bit_length())
        w = b"".join(rng.choice(letters, ln))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def texts(rng: np.random.Generator, vocab: np.ndarray, n: int,
          lo: int, hi: int) -> list[str]:
    """*n* texts of lo..hi-1 words drawn Zipf-like from *vocab*: word
    frequencies follow natural text, and no two texts share a template."""
    # the tail past the vocabulary wraps around instead of piling on one word
    ranks = (rng.zipf(1.3, size=n * hi) - 1) % len(vocab)
    lens = rng.integers(lo, hi, size=n)
    out, at = [], 0
    for ln in lens:
        out.append(b" ".join(vocab[ranks[at:at + ln]]).decode())
        at += ln
    return out


def events(rng: np.random.Generator, vocab: np.ndarray, first_id: int,
           n: int, users: int, msg_words: tuple[int, int] = (3, 12),
           with_ts: bool = False) -> pa.Table:
    """*n* events with consecutive ids from *first_id*; users are drawn
    uniformly, so a user's events spread over every file."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    cols = {
        "event_id": ids,
        "user_id": rng.integers(0, users, size=n, dtype=np.int64),
        "kind": pa.array(np.array(KINDS, dtype=object)[rng.integers(0, len(KINDS), size=n)]),
        "amount": rng.integers(1, 10_000, size=n, dtype=np.int64),
        "msg": texts(rng, vocab, n, *msg_words),
    }
    if with_ts:
        # one event a second: event time advances with the id
        cols["ts"] = pa.array((EPOCH_S + ids) * 1_000_000, type=pa.timestamp("us", tz="UTC"))
    return pa.table(cols)


class Oracle:
    """DuckDB over the generator's rows."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads=1")

    def register(self, name: str, table: pa.Table) -> None:
        self.con.register(name, table)

    def rows(self, sql: str) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(sql).fetchall()]

    def ndjson(self, name: str, path: str) -> bytes:
        """The table's rows as NDJSON lines, in row order."""
        self.con.execute(f"COPY (SELECT * FROM {name}) TO '{path}' (FORMAT JSON)")
        with open(path, "rb") as f:
            data = f.read()
        os.remove(path)
        return data

    def close(self) -> None:
        self.con.close()


def tree_bytes(root: str) -> int:
    """Bytes of every regular file under *root* (data plus sidecars)."""
    total = 0
    for d, _dirs, files in os.walk(root):
        for fn in files:
            total += os.path.getsize(os.path.join(d, fn))
    return total

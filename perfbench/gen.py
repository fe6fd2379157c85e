"""Seeded change-event generator for the benchmark.

Everything the engine sees comes from here, as parquet files on disk: the
same seed gives byte-identical inputs, a different seed gives different
keys, texts and ordering with the same shape.

Event stream shape (columns follow the engine's change-event envelope:
lsn, op, source_part, conv_id, turn_idx, role, text[, tool], ts):

* conversations are picked from a hot set (``hot_share`` of the events go
  to ``n_hot`` conversations) and otherwise Zipf-skewed over all of them;
* the first event of a key is an insert, later ones are updates, and a
  ``delete_share`` of the later ones are deletes;
* ``dup_share`` of the events are delivered twice (same lsn, same row);
  the copy lands in the next chunk;
* lsn order is broken across neighbouring chunks: ``swap_share`` of each
  chunk's events trade places with events of the following chunk;
* the ``tool`` column is absent from every chunk before ``tool_from``
  (a fraction of the stream) and present after it (schema evolution);
* texts are drawn from a Zipfian vocabulary; ``near_dup_share`` of them
  are one- or two-token edits of a small pool of template texts, so the
  near-duplicate operators have real pairs to find.

Parquet layout: batch files have ``row_group_rows`` rows per row group and
stream chunks a quarter of a chunk's rows, so no file is one row group by
accident.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS0_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
ROLES = np.array(["user", "assistant", "user", "assistant", "tool", "system"])
TOOLS = np.array(["search", "python", "browser", "sql", "shell", "calc"])
SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po",
    "da", "fe", "gu", "hi", "jo", "be", "ci", "wu", "xa", "yo",
]


def vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """`size` distinct pronounceable words, rank order = frequency order."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(1, 4))
        w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


class TextSource:
    """Zipfian-vocabulary texts with a controlled near-duplicate share."""

    def __init__(
        self,
        rng: np.random.Generator,
        vocab_size: int,
        zipf_s: float,
        min_tokens: int,
        max_tokens: int,
        near_dup_share: float,
        n_templates: int,
    ):
        self.rng = rng
        self.vocab = vocabulary(rng, vocab_size)
        p = 1.0 / np.arange(1, vocab_size + 1) ** zipf_s
        self.cdf = np.cumsum(p / p.sum())
        self.min_tokens, self.max_tokens = min_tokens, max_tokens
        self.near_dup_share = near_dup_share
        self.templates = [self._tokens() for _ in range(n_templates)]

    def _tokens(self) -> np.ndarray:
        n = int(self.rng.integers(self.min_tokens, self.max_tokens + 1))
        idx = np.searchsorted(self.cdf, self.rng.random(n))
        return np.minimum(idx, len(self.vocab) - 1)

    def texts(self, n: int) -> list[str]:
        out: list[str] = []
        near = self.rng.random(n) < self.near_dup_share
        pick = self.rng.integers(0, len(self.templates), n)
        for i in range(n):
            if near[i]:
                toks = self.templates[pick[i]].copy()
                edits = int(self.rng.integers(1, 3))
                pos = self.rng.integers(0, len(toks), edits)
                toks[pos] = np.searchsorted(self.cdf, self.rng.random(edits))
                toks = np.minimum(toks, len(self.vocab) - 1)
            else:
                toks = self._tokens()
            out.append(" ".join(self.vocab[toks]))
        return out


def event_table(
    rng: np.random.Generator,
    texts: TextSource,
    n_events: int,
    n_convs: int,
    turns_per_conv: int,
    lsn0: int,
    hot_share: float,
    n_hot: int,
    zipf_s: float,
    delete_share: float,
    seen: set[tuple[int, int]],
) -> dict[str, np.ndarray | list]:
    """`n_events` events in lsn order starting at `lsn0`. `seen` holds the
    keys that already exist (updated in place), so inserts vs updates stay
    consistent across successive calls."""
    ranks = 1.0 / np.arange(1, n_convs + 1) ** zipf_s
    perm = rng.permutation(n_convs)
    p = np.empty(n_convs)
    p[perm] = ranks / ranks.sum()
    conv = rng.choice(n_convs, size=n_events, p=p)
    hot = rng.permutation(n_convs)[:n_hot]
    is_hot = rng.random(n_events) < hot_share
    conv[is_hot] = hot[rng.integers(0, n_hot, int(is_hot.sum()))]
    turn = rng.integers(0, turns_per_conv, n_events).astype(np.int32)
    op = np.empty(n_events, dtype=object)
    dele = rng.random(n_events) < delete_share
    for i in range(n_events):
        k = (int(conv[i]), int(turn[i]))
        if k not in seen:
            op[i] = "I"
            seen.add(k)
        elif dele[i]:
            op[i] = "D"
            seen.discard(k)
        else:
            op[i] = "U"
    lsn = np.arange(lsn0, lsn0 + n_events, dtype=np.int64)
    live = op != "D"
    body = texts.texts(int(live.sum()))
    text = np.full(n_events, None, dtype=object)
    text[live] = body
    role = np.where(live, ROLES[turn % len(ROLES)], None)
    tool_pick = rng.integers(0, len(TOOLS), n_events)
    tool = np.where(live & (rng.random(n_events) < 0.4), TOOLS[tool_pick], None)
    return {
        "lsn": lsn,
        "op": op,
        "source_part": (conv % 8).astype(np.int32),
        "conv_id": np.char.add("c", np.char.zfill(conv.astype(str), 7)),
        "turn_idx": turn,
        "role": role,
        "text": text,
        "tool": tool,
        "ts": TS0_US + lsn * 1000,
    }


def to_arrow(cols: dict, idx: np.ndarray, with_tool: bool) -> pa.Table:
    names = ["lsn", "op", "source_part", "conv_id", "turn_idx", "role", "text"]
    if with_tool:
        names.append("tool")
    arrays = {
        "lsn": pa.array(cols["lsn"][idx], pa.int64()),
        "op": pa.array(cols["op"][idx], pa.string()),
        "source_part": pa.array(cols["source_part"][idx], pa.int32()),
        "conv_id": pa.array(cols["conv_id"][idx], pa.string()),
        "turn_idx": pa.array(cols["turn_idx"][idx], pa.int32()),
        "role": pa.array(cols["role"][idx], pa.string()),
        "text": pa.array(cols["text"][idx], pa.string()),
        "tool": pa.array(cols["tool"][idx], pa.string()),
    }
    out = pa.table({n: arrays[n] for n in names})
    return out.append_column(
        "ts", pa.array(cols["ts"][idx], pa.timestamp("us", tz="UTC"))
    )


def write_parquet(table: pa.Table, path: str, row_group_rows: int) -> None:
    pq.write_table(table, path, row_group_size=row_group_rows, compression="zstd")


class Feed:
    """One seeded event stream; successive `events()` calls continue it."""

    def __init__(self, seed: int, cfg: dict):
        self.rng = np.random.default_rng(seed)
        self.cfg = cfg
        self.texts = TextSource(
            self.rng,
            cfg["vocab_size"],
            cfg["vocab_zipf_s"],
            cfg["min_tokens"],
            cfg["max_tokens"],
            cfg["near_dup_share"],
            cfg["n_templates"],
        )
        self.seen: set[tuple[int, int]] = set()
        self.next_lsn = 1

    def events(self, n: int) -> dict:
        c = self.cfg
        cols = event_table(
            self.rng,
            self.texts,
            n,
            c["n_convs"],
            c["turns_per_conv"],
            self.next_lsn,
            c["hot_share"],
            c["n_hot"],
            c["conv_zipf_s"],
            c["delete_share"],
            self.seen,
        )
        self.next_lsn += n
        return cols

    def write_batch(
        self, cols: dict, out_dir: str, n_files: int, with_tool: bool
    ) -> list[str]:
        """Write one bulk batch as `n_files` parquet files (lsn order,
        contiguous slices; duplicates appended to the following file)."""
        os.makedirs(out_dir, exist_ok=True)
        n = len(cols["lsn"])
        order = self._with_dups(np.arange(n), self.cfg["dup_share"])
        paths = []
        for i, part in enumerate(np.array_split(order, n_files)):
            path = os.path.join(out_dir, f"part-{i:04d}.parquet")
            write_parquet(
                to_arrow(cols, part, with_tool), path, self.cfg["row_group_rows"]
            )
            paths.append(path)
        return paths

    def chunk_tables(self, cols: dict, sizes: list[int], tool_from: float) -> list[pa.Table]:
        """Split a stream into WAL chunks of the given sizes, with duplicates
        delivered in the next chunk and lsn order broken across neighbouring
        chunks; chunks from the `tool_from` fraction on carry the tool
        column."""
        ends = np.cumsum(sizes)
        chunks = [np.arange(e - n, e) for n, e in zip(sizes, ends)]
        swap = self.cfg["swap_share"]
        for a, b in zip(chunks, chunks[1:]):
            k = int(min(len(a), len(b)) * swap)
            ia = self.rng.choice(len(a), k, replace=False)
            ib = self.rng.choice(len(b), k, replace=False)
            a[ia], b[ib] = b[ib].copy(), a[ia].copy()
        first_tool = int(len(chunks) * tool_from)
        # an event first delivered before the column exists has no tool, so
        # its duplicate delivery in a later chunk must not carry one either
        for ch in chunks[:first_tool]:
            cols["tool"][ch] = None
        dup = self.cfg["dup_share"]
        out = []
        carry = np.array([], dtype=np.int64)
        for i, ch in enumerate(chunks):
            pick = ch[self.rng.random(len(ch)) < dup]
            rows = np.concatenate([ch, carry])
            carry = pick
            out.append(to_arrow(cols, rows, i >= first_tool))
        return out

    def _with_dups(self, idx: np.ndarray, share: float) -> np.ndarray:
        pick = idx[self.rng.random(len(idx)) < share]
        out = np.concatenate([idx, pick])
        return np.sort(out, kind="stable")

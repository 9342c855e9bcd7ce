"""Seeded benchmark inputs, written to files before the engine sees them.

Everything here depends only on the seed and the sizes below, never on
the package's own generators, so a change to the engine's synthetic
sources cannot change a workload. Rows are numbered globally: row ``i``
belongs to conversation ``i // TURNS_PER_CONV`` at turn ``i %
TURNS_PER_CONV``, so the engine's (conv_id, turn_idx) order equals row
order and its dense ``doc_id`` equals the row number, also across
appends that each carry a contiguous row range.

Known-item queries follow the MS MARCO shape (one relevant passage per
query): three distinct words of a seeded target turn, of vocabulary ranks in
[``MIN_QUERY_RANK``, ``MAX_QUERY_RANK``), so stopword-like head terms are excluded.
The qrels line marks that turn relevant with grade 2, the engine's
binary-relevance threshold.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 4000
ZIPF_S = 1.1
#: query words come from vocabulary ranks [50, 300): rare enough to
#: skip the stopword-like head, common enough that the target turn
#: competes with other turns sharing its words (at this corpus size,
#: rarer words would make every known item rank first and leave the
#: QPP correlations undefined)
MIN_QUERY_RANK, MAX_QUERY_RANK = 50, 300
TURNS_PER_CONV = 8
MIN_TOKENS, MAX_TOKENS = 8, 80
ROLES = ("user", "assistant", "tool")
_SYLLABLES = (
    "ta", "ri", "mo", "ke", "lu", "san", "ver", "qua", "zed", "pol",
    "gra", "min", "dor", "fex", "bi", "cu", "nor", "wi", "ya", "sto",
    "phe", "jun", "kal", "ost", "ube", "rav",
)
_BASE_TS = np.datetime64("2026-01-01T00:00:00", "us")

TRANSCRIPT_ARROW = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


class Corpus:
    """A seeded vocabulary and the token stream of every row.

    Row ``i``'s text depends only on (seed, i), so any row range can be
    generated on its own and the ranges of one corpus never disagree.
    """

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng([seed, 0])
        words: list[str] = []
        seen: set[str] = set()
        while len(words) < VOCAB_SIZE:
            n = int(rng.integers(2, 5))
            w = "".join(_SYLLABLES[j] for j in rng.integers(0, len(_SYLLABLES), n))
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.vocab = np.array(words)
        p = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S
        self._cdf = np.cumsum(p / p.sum())
        self._tokens: dict[int, np.ndarray] = {}

    def token_ids(self, row: int) -> np.ndarray:
        ids = self._tokens.get(row)
        if ids is None:
            rng = np.random.default_rng([self.seed, 1, row])
            n = int(rng.integers(MIN_TOKENS, MAX_TOKENS + 1))
            ids = np.searchsorted(self._cdf, rng.random(n), side="right")
            ids = self._tokens[row] = np.minimum(ids, VOCAB_SIZE - 1)
        return ids

    def text(self, row: int) -> str:
        return " ".join(self.vocab[self.token_ids(row)])

    def table(self, start: int, count: int) -> pa.Table:
        rows = range(start, start + count)
        return pa.table({
            "conv_id": [f"conv{i // TURNS_PER_CONV:08d}" for i in rows],
            "turn_idx": [i % TURNS_PER_CONV for i in rows],
            "role": [ROLES[i % 3] for i in rows],
            "text": [self.text(i) for i in rows],
            "tool": [f"tool{i % 5}" if i % 3 == 2 else None for i in rows],
            "ts": _BASE_TS + np.arange(start, start + count) * np.timedelta64(1, "s"),
        }, schema=TRANSCRIPT_ARROW)

    def known_items(self, rng: np.random.Generator, lo: int, hi: int,
                    n: int, prefix: str) -> list[tuple[str, str, int]]:
        """``n`` (qid, query text, target row) triples, targets drawn
        without replacement from rows [lo, hi)."""
        out: list[tuple[str, str, int]] = []
        used: set[int] = set()
        while len(out) < n:
            row = int(rng.integers(lo, hi))
            if row in used:
                continue
            ids = np.unique(self.token_ids(row))
            ids = ids[(ids >= MIN_QUERY_RANK) & (ids < MAX_QUERY_RANK)]
            if ids.size < 3:
                continue
            used.add(row)
            pick = rng.choice(ids, size=3, replace=False)
            out.append((f"{prefix}{len(out):05d}",
                        " ".join(self.vocab[pick]), row))
        return out


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def write_queries(items: list[tuple[str, str, int]], path: str) -> None:
    """A ``qid<TAB>text`` file, the engine's query TSV format."""
    with open(path, "w") as f:
        for qid, text, _row in items:
            f.write(f"{qid}\t{text}\n")


def write_qrels(items: list[tuple[str, str, int]], path: str) -> None:
    """TREC qrels, ``qid 0 doc_id 2``: the target turn is the one
    relevant passage."""
    with open(path, "w") as f:
        for qid, _text, row in items:
            f.write(f"{qid} 0 {row} 2\n")


def digest(paths: list[str]) -> str:
    """sha256 over every file under ``paths``, in sorted order."""
    h = hashlib.sha256()
    files = []
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, names in os.walk(p):
                files += [os.path.join(root, n) for n in names]
        else:
            files.append(p)
    for f in sorted(files):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()

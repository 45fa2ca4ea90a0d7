"""Seeded benchmark inputs and their exact oracle.

The inputs follow the FIXTURES.md F1 ``sequences`` schema (doc_id string,
tokens array<int32>, n_tok int32, hive partition ``source=<v>``, every block
of rows split between sources in the exact F1 shares) but are generated here,
with numpy and pyarrow only, so a change to the library's own fixture
generator can never change what the benchmark measures.

Rows are addressed by a global row index ``i`` (doc_id = ``doc%010d``). Every
block of rows is drawn from a numpy ``Generator`` seeded with
``(seed, stream, first row)``, so a seed always yields the same files.
Generation runs on a few threads, one block of rows per task (the RNG and
parquet encoding release the interpreter lock).

Layout of one input set::

    table/source=<v>/part-cNNNN.parquet            base rows [0, N)
    side/source=<v>/part-cNNNN.parquet             UNION side: doc ids [N-H, N+H)
    deltas/rNNNN/source=<v>/delta-rNNNN-B.parquet  ingest round r: rows
                                                   [N + r*D, N + (r+1)*D)

The oracle never touches sketchlib: it reads the written parquet back and
keeps, per source, the exact token histogram, the n_tok histogram and the
doc-id indices. All three are additive, so the oracle of a directory grown by
appended deltas is the sum of the parts.
"""

from __future__ import annotations

import functools
import glob
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_000
ZIPF_S = 1.1
SOURCES = ("web", "books", "code", "wiki", "forums")
SOURCE_P = (0.80, 0.10, 0.05, 0.04, 0.01)
MU = float(np.log(512.0))
SIGMA = 0.6
MAX_NTOK = 8192
ROW_GROUP_ROWS = 2048
BLOCK_ROWS = 8192
_LUT_BITS = 22

STREAM_BASE, STREAM_SIDE = 0, 1


@dataclass(frozen=True)
class InputSpec:
    """Sizes of one input set; the seed is the only free parameter."""

    seed: int
    table_rows: int = 64_000
    side_half: int = 2_000
    delta_rows: int = 2_048
    n_deltas: int = 0


@functools.cache
def _zipf_lut() -> np.ndarray:
    """Inverse CDF of Zipf(ZIPF_S) over VOCAB ids, quantised to 2^22 slots:
    a uniform 22-bit integer indexes straight to a token id."""
    p = np.arange(1, VOCAB + 1, dtype=np.float64) ** (-ZIPF_S)
    edges = np.round(np.cumsum(p) / p.sum() * (1 << _LUT_BITS)).astype(np.int64)
    counts = np.diff(np.concatenate([[0], edges]))
    return np.repeat(np.arange(VOCAB, dtype=np.int32), counts)


def gen_rows(start: int, n: int, seed: int, stream: int, lut: np.ndarray) -> dict:
    """Rows [start, start+n) of one stream as numpy columns."""
    rng = np.random.default_rng([seed, stream, start])
    n_tok = np.clip(np.round(rng.lognormal(MU, SIGMA, n)), 1, MAX_NTOK).astype(np.int32)
    # exact source shares in every block, in seeded order: the file layout
    # (rows per source file) is the same for every seed
    counts = np.floor(np.asarray(SOURCE_P) * n).astype(np.int64)
    counts[0] += n - counts.sum()
    src = rng.permutation(np.repeat(np.arange(len(SOURCES)), counts))
    total = int(n_tok.sum())
    slots = rng.integers(0, 1 << _LUT_BITS, size=total, dtype=np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    return {
        "doc_id": np.array([f"doc{i:010d}" for i in range(start, start + n)], dtype=object),
        "flat": lut[slots],
        "offsets": offsets,
        "n_tok": n_tok,
        "src": src,
    }


def _write_block(rows: dict, out_dir: str, fname: str) -> None:
    tokens = pa.ListArray.from_arrays(pa.array(rows["offsets"]), pa.array(rows["flat"]))
    for si, sv in enumerate(SOURCES):
        idx = np.nonzero(rows["src"] == si)[0]
        if len(idx) == 0:
            continue
        tbl = pa.table(
            {
                "doc_id": pa.array(rows["doc_id"][idx], type=pa.string()),
                "tokens": tokens.take(pa.array(idx)),
                "n_tok": pa.array(rows["n_tok"][idx], type=pa.int32()),
            }
        )
        pdir = os.path.join(out_dir, f"source={sv}")
        os.makedirs(pdir, exist_ok=True)
        pq.write_table(
            tbl, os.path.join(pdir, fname), row_group_size=ROW_GROUP_ROWS, use_dictionary=False
        )


def _gen_block(task: tuple) -> None:
    out_dir, fname, start, n, seed, stream = task
    _write_block(gen_rows(start, n, seed, stream, _zipf_lut()), out_dir, fname)


def _range_tasks(out_dir: str, start: int, n: int, seed: int, stream: int, prefix: str):
    return [
        (out_dir, f"{prefix}{b:04d}.parquet", lo, min(BLOCK_ROWS, start + n - lo), seed, stream)
        for b, lo in enumerate(range(start, start + n, BLOCK_ROWS))
    ]


def delta_dir(inputs_dir: str, r: int) -> str:
    return os.path.join(inputs_dir, "deltas", f"r{r:04d}")


def write_inputs(spec: InputSpec, out: str, workers: int) -> None:
    """Write the input set for ``spec`` under ``out`` (which must be empty)."""
    n, h = spec.table_rows, spec.side_half
    tasks = _range_tasks(os.path.join(out, "table"), 0, n, spec.seed, STREAM_BASE, "part-c")
    tasks += _range_tasks(os.path.join(out, "side"), n - h, 2 * h, spec.seed, STREAM_SIDE, "part-c")
    for r in range(spec.n_deltas):
        tasks += _range_tasks(delta_dir(out, r), n + r * spec.delta_rows, spec.delta_rows,
                              spec.seed, STREAM_BASE, f"delta-r{r:04d}-")
    with ThreadPoolExecutor(max_workers=workers) as pool:
        for _ in pool.map(_gen_block, tasks):
            pass


# --- exact oracle --------------------------------------------------------------


@dataclass
class SourceTruth:
    token_counts: np.ndarray = field(default_factory=lambda: np.zeros(VOCAB, np.int64))
    ntok_hist: np.ndarray = field(default_factory=lambda: np.zeros(MAX_NTOK + 1, np.int64))
    doc_idx: list = field(default_factory=list)

    @property
    def rows(self) -> int:
        return int(self.ntok_hist.sum())

    @property
    def tokens(self) -> int:
        return int(self.token_counts.sum())


class Oracle:
    """Exact per-source answers over a set of parquet directories."""

    def __init__(self) -> None:
        self.by_source: dict[str, SourceTruth] = {}

    def add_dir(self, d: str) -> "Oracle":
        for f in sorted(glob.glob(os.path.join(d, "source=*", "*.parquet"))):
            sv = os.path.basename(os.path.dirname(f)).split("=", 1)[1]
            t = self.by_source.setdefault(sv, SourceTruth())
            tbl = pq.read_table(f, columns=["doc_id", "tokens", "n_tok"])
            flat = tbl.column("tokens").combine_chunks().values.to_numpy()
            t.token_counts += np.bincount(flat, minlength=VOCAB)
            t.ntok_hist += np.bincount(tbl.column("n_tok").to_numpy(), minlength=MAX_NTOK + 1)
            ids = tbl.column("doc_id").to_numpy(zero_copy_only=False)
            t.doc_idx.append(np.array([int(s[3:]) for s in ids], dtype=np.int64))
        return self

    @property
    def tokens(self) -> int:
        return sum(t.tokens for t in self.by_source.values())

    def distinct_docs(self, sv: str) -> int:
        return int(len(np.unique(np.concatenate(self.by_source[sv].doc_idx))))

    def distinct_tokens(self, sv: str) -> int:
        return int(np.count_nonzero(self.by_source[sv].token_counts))

    def all_doc_idx(self) -> np.ndarray:
        return np.unique(np.concatenate([np.concatenate(t.doc_idx) for t in self.by_source.values()]))

    def rank_interval(self, sv: str, value: float) -> tuple[float, float]:
        """Exact normalised rank of ``value`` among the source's n_tok values:
        [share strictly below, share at or below] (n_tok has ties)."""
        hist = self.by_source[sv].ntok_hist
        cum = np.cumsum(hist)
        n = cum[-1]
        lo_v = int(np.ceil(value)) - 1
        hi_v = int(np.floor(value))
        below = cum[lo_v] if 0 <= lo_v <= MAX_NTOK else (0 if lo_v < 0 else n)
        at_or_below = cum[hi_v] if 0 <= hi_v <= MAX_NTOK else (0 if hi_v < 0 else n)
        return float(below / n), float(at_or_below / n)

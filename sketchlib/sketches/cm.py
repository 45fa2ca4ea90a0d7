"""Count-Min sketch + heavy-hitter candidate tracking (SURVEY.md B3/B4).

Algorithm: Cormode & Muthukrishnan, "An Improved Data Stream Summary: The
Count-Min Sketch and its Applications" (J. Algorithms 2005).

Published bound (BASELINE.md): point-query estimate â satisfies
a ≤ â ≤ a + ε·N with probability ≥ 1 − δ, for w = ⌈e/ε⌉ columns and
d = ⌈ln(1/δ)⌉ rows; never undercounts.

Vectorized update: the batch is pre-aggregated with ``np.unique`` and each of
the d rows is updated via a weighted ``np.bincount`` add (C-speed, no
scatter-with-duplicates problem). The counter table merges by element-wise
add, hence commutatively and associatively; conservative update is
deliberately NOT offered because it breaks mergeability accounting
(SURVEY.md B3 note).

Heavy hitters (B4): each state carries a candidate id set (union-merged,
capped by CM-estimated count at merge time); ``topk()`` re-estimates
candidates on the merged table and returns the k largest. Because merges keep
the ``cand_cap`` ids with the largest estimated counts and estimates never
undercount, true heavy hitters survive the cap w.h.p. The candidate set is
NOT order-free: each truncation ranks ids by the estimates of the partial
table merged so far, so once more than ``cand_cap`` distinct ids compete,
which tail ids survive depends on the merge order (a refresh that folds a
delta into persisted states can keep a different tail than a fresh build;
the table, total and top-k over true heavy hitters agree).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from sketchlib.hashing import hash_ints
from sketchlib.sketches.base import SketchBase, np_frombytes, np_tobytes, register


@register
class CountMin(SketchBase):
    kind = "cm"

    def __init__(self, eps: float = 1e-4, delta: float = 0.01, seed: int = 7, cand_cap: int = 4096):
        self.eps = float(eps)
        self.delta = float(delta)
        self.seed = int(seed)
        self.w = int(math.ceil(math.e / self.eps))
        self.d = int(math.ceil(math.log(1.0 / self.delta)))
        self.cand_cap = int(cand_cap)
        self.table = np.zeros((self.d, self.w), dtype=np.int64)
        self.total = 0  # N = total count of all updates (for the eps*N bound)
        self.cands = np.empty(0, dtype=np.int64)  # heavy-hitter candidate ids
        self._n_items = 0

    # --- update ----------------------------------------------------------
    def update_values(self, values: np.ndarray, counts: np.ndarray | None = None) -> "CountMin":
        """Add integer keys (token ids). Pre-aggregates duplicates first."""
        v = np.asarray(values)
        if v.size == 0:
            return self
        if counts is None:
            u, c = np.unique(v, return_counts=True)
        else:
            u, c = v.astype(np.int64), np.asarray(counts, dtype=np.int64)
        self._n_items += int(c.sum())
        self.total += int(c.sum())
        cf = c.astype(np.float64)  # exact for counts < 2^53
        for i in range(self.d):
            col = (hash_ints(u, self.seed + i) % np.uint64(self.w)).astype(np.int64)
            self.table[i] += np.bincount(col, weights=cf, minlength=self.w).astype(np.int64)
        # track the batch's largest keys as heavy-hitter candidates
        if self.cand_cap > 0:
            top = u[np.argsort(c, kind="stable")[-self.cand_cap :]]
            self._absorb_cands(top.astype(np.int64))
        return self

    def _absorb_cands(self, ids: np.ndarray) -> None:
        merged = np.union1d(self.cands, ids)
        if len(merged) > self.cand_cap:
            est = self.query(merged)
            # keep cand_cap ids with largest estimates; break ties by id (determinism)
            order = np.lexsort((merged, -est))
            merged = np.sort(merged[order[: self.cand_cap]])
        self.cands = merged

    # --- query -----------------------------------------------------------
    def query(self, keys: np.ndarray) -> np.ndarray:
        """Point-query estimated counts for integer keys (vectorized)."""
        u = np.asarray(keys, dtype=np.int64)
        est = np.full(len(u), np.iinfo(np.int64).max, dtype=np.int64)
        for i in range(self.d):
            col = (hash_ints(u, self.seed + i) % np.uint64(self.w)).astype(np.int64)
            np.minimum(est, self.table[i][col], out=est)
        return est

    def error_bound(self) -> float:
        """Absolute overcount bound ε·N holding with probability ≥ 1 − δ."""
        return self.eps * self.total

    def topk(self, k: int) -> tuple[np.ndarray, np.ndarray]:
        """(ids, estimated counts) of the top-k candidate heavy hitters."""
        if len(self.cands) == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        est = self.query(self.cands)
        order = np.lexsort((self.cands, -est))[:k]
        return self.cands[order], est[order]

    def inner_product(self, other: "CountMin") -> tuple[float, float]:
        """Equi-join cardinality estimate: (Σ_k a_k·b_k estimate, abs bound).

        Cormode & Muthukrishnan 2005 §4.2: for two CM sketches with the SAME
        geometry and hash family (w, d, seed) over the two relations' join-key
        multiplicity vectors a and b, ``min_i Σ_j A[i,j]·B[i,j]`` never
        undercounts a⊙b and overshoots by at most ε·‖a‖₁·‖b‖₁ with
        probability ≥ 1 − δ. a⊙b IS |R_a ⋈ R_b| on that key, so this prices
        a join from KB states without touching either table (the classic
        AQP/optimizer cardinality primitive; Verdict's planner asks the same
        what-would-this-cost question of its sample registry).
        """
        if (other.w, other.d, other.seed) != (self.w, self.d, self.seed):
            raise ValueError("CountMin geometry/seed mismatch")
        # per-row dot products in float64: exact for products < 2^53, which
        # holds whenever both totals < 2^26.5 PER CELL pair — at larger scale
        # the ε·Na·Nb bound dwarfs any float rounding by many orders.
        dots = np.einsum("ij,ij->i", self.table.astype(np.float64), other.table.astype(np.float64))
        est = float(dots.min())
        return est, self.eps * float(self.total) * float(other.total)

    # --- merge -----------------------------------------------------------
    def merge(self, other: "CountMin") -> "CountMin":
        if (other.w, other.d, other.seed) != (self.w, self.d, self.seed):
            raise ValueError("CountMin geometry/seed mismatch")
        self.table += other.table
        self.total += other.total
        self._n_items += other._n_items
        self._absorb_cands(other.cands)
        return self

    # --- serde -----------------------------------------------------------
    # The counter table serializes with the NARROWEST dtype its max value
    # fits (tagged in the body; in memory it is always int64): a partial
    # state over typical per-task counts is uint16/uint32, so the ε=1e-4
    # table's wire size drops from 1.09 MB to 0.27-0.54 MB — this is the
    # fattest state on every probe/shuffle path, and the encoding is
    # content-deterministic (same table → same bytes), so byte-identity
    # properties are preserved. Readers dispatch on the tag, nothing else.
    _TABLE_DTYPES = {1: np.uint8, 2: np.uint16, 4: np.uint32, 8: np.int64}

    def _params(self) -> dict:
        return {"eps": self.eps, "delta": self.delta, "seed": self.seed, "cand_cap": self.cand_cap}

    def _body_bytes(self) -> bytes:
        mx = int(self.table.max(initial=0))
        code = 8
        if int(self.table.min(initial=0)) >= 0:
            code = 1 if mx < (1 << 8) else 2 if mx < (1 << 16) else 4 if mx < (1 << 32) else 8
        narrow = self.table if code == 8 else self.table.astype(self._TABLE_DTYPES[code])
        return (
            struct.pack("<QQB", self._n_items, self.total, code)
            + np_tobytes(narrow, self.cands)
        )

    def max_state_bytes(self) -> int:
        """Pessimistic wire size (int64 table + full candidate set) for
        driver-side probe/transfer budgeting — the narrow encoding makes
        actual pulls smaller, never larger."""
        return 64 + self.d * self.w * 8 + self.cand_cap * 8

    @classmethod
    def _from_parts(cls, params: dict, body: memoryview) -> "CountMin":
        obj = cls(
            eps=params["eps"], delta=params["delta"], seed=params["seed"], cand_cap=params["cand_cap"]
        )
        obj._n_items, obj.total, code = struct.unpack_from("<QQB", body, 0)
        table, cands = np_frombytes(body[17:], [cls._TABLE_DTYPES[code], np.int64])
        obj.table = table.astype(np.int64, copy=False).reshape(obj.d, obj.w)
        obj.cands = cands
        return obj

"""Frequent Directions — mergeable low-rank spectral sketch of a vector
stream (embedding-covariance summary).

Algorithm: Liberty, "Simple and Deterministic Matrix Sketching" (KDD 2013);
mergeability and the tightened bound per Ghashami, Liberty, Phillips,
Woodruff, "Frequent Directions: Simple and Deterministic Matrix Sketching"
(SIAM J. Comput. 2016). The sketch maintains an ℓ×d matrix B over the row
stream A (each row one embedding) such that

    0  ⪯  AᵀA − BᵀB  ⪯  Δ·I        with  Δ = Σ_t δ_t,

the accumulated per-shrink mass (δ_t = the squared singular value removed
at shrink t), so every Gram/covariance eigenvalue is bracketed EXACTLY:

    σ_i²(B)  ≤  λ_i(AᵀA)  ≤  σ_i²(B) + Δ.

Δ is tracked exactly, so the reported bound is a computable per-state
certificate, not a probabilistic tail (the 2016 analysis additionally
guarantees Δ ≤ ‖A − A_k‖_F²/(ℓ − k) for every k < ℓ, so ℓ sized at ~2k/ε
brackets the top-k spectrum within ε·tail mass — property-tested).
Deterministic end to end: no RNG, no sampling.

Shrinking uses the standard double-space trick: rows land in a 2ℓ×d buffer
and one SVD per ℓ insertions compacts it back to ℓ−1 live rows — amortized
O(d·ℓ) per row. Merge concatenates the other state's live rows (each a
valid FD row stream) and re-shrinks; Δ adds because Frobenius masses do.
Merges are commutative and associative IN BOUND (the certificate always
holds); like KLL/t-digest the exact bytes depend on merge order, which the
one canonical state merge (``spark.build._merge_by_key``) makes reproducible.

The update consumes the kernel's per-group FLATTENED float64 element stream
(array columns arrive flat); ``d`` is a declared parameter and every call
must carry whole rows — a stream whose length is not a multiple of d raises
(fixed-dimension embedding columns only; see SketchSpec docs).
"""

from __future__ import annotations

import struct

import numpy as np

from sketchlib.sketches.base import SketchBase, np_frombytes, np_tobytes, register


@register
class FrequentDirections(SketchBase):
    kind = "fd"

    def __init__(self, d: int, ell: int = 128):
        d, ell = int(d), int(ell)
        if d < 1:
            raise ValueError("d must be ≥ 1 (the embedding dimension)")
        if ell < 2:
            raise ValueError("ell must be ≥ 2 (sketch rows; ~2k/ε for rank k)")
        self.d = d
        self.ell = ell
        self.buf = np.zeros((2 * ell, d), dtype=np.float64)
        self.used = 0  # rows of buf currently occupied
        self.shrink_sq = 0.0  # Δ = Σ δ_t — the spectral-error certificate
        self.sq_frob_in = 0.0  # exact ‖A‖_F² of everything ever fed (diagnostic)
        self._n_items = 0  # vectors (rows) consumed

    # --- updates ---------------------------------------------------------
    def update_values(self, values: np.ndarray) -> "FrequentDirections":
        """Consume a flat float64 element stream of whole d-vectors."""
        v = np.asarray(values, dtype=np.float64)
        if v.size == 0:
            return self
        if v.size % self.d:
            raise ValueError(
                f"fd(d={self.d}) got a stream of {v.size} elements — not a "
                "whole number of vectors; fd sketches fixed-dimension "
                "array columns only"
            )
        rows = v.reshape(-1, self.d)
        rows = rows[np.isfinite(rows).all(axis=1)]  # drop malformed vectors
        if not len(rows):
            return self
        self._n_items += len(rows)
        self.sq_frob_in += float(np.einsum("ij,ij->", rows, rows))
        off = 0
        while off < len(rows):
            room = self.buf.shape[0] - self.used
            take = min(room, len(rows) - off)
            self.buf[self.used : self.used + take] = rows[off : off + take]
            self.used += take
            off += take
            if self.used == self.buf.shape[0]:
                self._shrink()
        return self

    def _shrink(self) -> None:
        """SVD-compact the full buffer back to ≤ ℓ−1 live rows (Liberty)."""
        s, vt = np.linalg.svd(self.buf[: self.used], full_matrices=False)[1:]
        keep = min(self.ell, len(s)) - 1
        if keep < 1:
            keep = 1
        delta = float(s[keep] ** 2) if len(s) > keep else 0.0
        self.shrink_sq += delta
        scaled = np.sqrt(np.maximum(s[:keep] ** 2 - delta, 0.0))[:, None] * vt[:keep]
        live = scaled[(scaled != 0).any(axis=1)]
        self.buf[: len(live)] = live
        self.buf[len(live) :] = 0.0
        self.used = len(live)

    # --- merge -----------------------------------------------------------
    def merge(self, other: "FrequentDirections") -> "FrequentDirections":
        if (self.d, self.ell) != (other.d, other.ell):
            raise ValueError(
                f"fd geometry mismatch: (d={self.d}, ell={self.ell}) vs "
                f"(d={other.d}, ell={other.ell}) — states sketch different "
                "spaces and must not merge"
            )
        rows = other.buf[: other.used]
        # feed the other's live rows WITHOUT re-counting their Frobenius
        # mass (other.sq_frob_in already carries the exact input mass)
        off = 0
        while off < len(rows):
            room = self.buf.shape[0] - self.used
            take = min(room, len(rows) - off)
            self.buf[self.used : self.used + take] = rows[off : off + take]
            self.used += take
            off += take
            if self.used == self.buf.shape[0]:
                self._shrink()
        self.sq_frob_in += other.sq_frob_in
        self.shrink_sq += other.shrink_sq
        self._n_items += other._n_items
        return self

    # --- answers ----------------------------------------------------------
    def _compact(self) -> np.ndarray:
        if self.used > self.ell:
            self._shrink()
        return self.buf[: self.used]

    def cov_err_bound(self) -> float:
        """Δ = Σ δ_t (accumulated shrink mass): exact additive bracket on
        every Gram eigenvalue (0 ⪯ AᵀA − BᵀB ⪯ Δ·I). The Frobenius
        difference ‖A‖_F² − ‖B‖_F² would also be a valid certificate but
        is looser by a factor ~ℓ (each shrink removes ≥ ℓ·δ of trace while
        adding only δ of spectral error)."""
        self._compact()
        return float(self.shrink_sq)

    def spectrum(self, r: int) -> tuple[np.ndarray, float]:
        """(top-r σ²(B) descending, Δ): λ_i(AᵀA) ∈ [σ_i², σ_i² + Δ]."""
        b = self._compact()
        if not len(b):
            return np.zeros(min(r, self.d)), self.cov_err_bound()
        s = np.linalg.svd(b, compute_uv=False)
        out = np.zeros(min(int(r), self.d))
        sq = s[: len(out)] ** 2
        out[: len(sq)] = sq
        return out, self.cov_err_bound()

    def directions(self, r: int) -> np.ndarray:
        """Top-r right singular vectors of B (rows), sign-canonicalized
        (largest-|component| positive) — SVD signs are arbitrary."""
        b = self._compact()
        if not len(b):
            return np.zeros((0, self.d))
        vt = np.linalg.svd(b, full_matrices=False)[2][: int(r)]
        flip = np.sign(vt[np.arange(len(vt)), np.abs(vt).argmax(axis=1)])
        flip[flip == 0] = 1.0
        return vt * flip[:, None]

    def estimate(self) -> tuple[float, float]:
        """(top Gram eigenvalue lower bound, Δ) — the protocol's scalar."""
        sq, delta = self.spectrum(1)
        return float(sq[0]), delta

    # --- serde -------------------------------------------------------------
    def _params(self) -> dict:
        return {"d": self.d, "ell": self.ell}

    def _body_bytes(self) -> bytes:
        b = self._compact()
        return (
            struct.pack("<iddq", len(b), self.shrink_sq, self.sq_frob_in, self._n_items)
            + np_tobytes(np.ascontiguousarray(b))
        )

    @classmethod
    def _from_parts(cls, params: dict, body: memoryview) -> "FrequentDirections":
        sk = cls(params["d"], params["ell"])
        used, shrink, frob, n = struct.unpack_from("<iddq", body, 0)
        (rows,) = np_frombytes(body[struct.calcsize("<iddq"):], [np.float64])
        sk.buf[:used] = rows.reshape(used, sk.d)
        sk.used = int(used)
        sk.shrink_sq = float(shrink)
        sk.sq_frob_in = float(frob)
        sk._n_items = int(n)
        return sk

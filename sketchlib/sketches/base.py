"""Sketch protocol + self-describing binary serde (SURVEY.md §2B preamble).

Every sketch implements:

    init(params)                      -> state (the object itself)
    update_hashes/update_values(...)  -> vectorized numpy update, no per-row Python
    merge(other)                      -> commutative + associative, in-place, returns self
    estimate(...)                     -> (value, err_bound) per published formula
    to_bytes() / from_bytes(buf)      -> stable, self-describing serialization

Serialization layout (little-endian):

    magic  b'SKL1'          4 bytes
    kind   utf-8, len-prefixed (uint16)
    params json utf-8, len-prefixed (uint32)   # small dict of ints/strings
    body   sketch-specific, rest of buffer

States are opaque ``BinaryType`` payloads on the Spark side (SURVEY.md §1.2):
Spark never needs to "understand" a sketch, only shuttle and group bytes.
"""

from __future__ import annotations

import json
import struct
from typing import ClassVar

import numpy as np

_MAGIC = b"SKL1"

_REGISTRY: dict[str, type] = {}


def register(cls):
    """Class decorator: register a sketch kind for deserialize()."""
    _REGISTRY[cls.kind] = cls
    return cls


class SketchBase:
    kind: ClassVar[str] = "?"

    # --- subclass hooks -------------------------------------------------
    def _params(self) -> dict:
        raise NotImplementedError

    def _body_bytes(self) -> bytes:
        raise NotImplementedError

    @classmethod
    def _from_parts(cls, params: dict, body: memoryview) -> "SketchBase":
        raise NotImplementedError

    # --- shared serde ---------------------------------------------------
    def to_bytes(self) -> bytes:
        kind_b = self.kind.encode("utf-8")
        params_b = json.dumps(self._params(), sort_keys=True).encode("utf-8")
        head = _MAGIC + struct.pack("<H", len(kind_b)) + kind_b
        head += struct.pack("<I", len(params_b)) + params_b
        return head + self._body_bytes()

    def merge(self, other: "SketchBase") -> "SketchBase":
        raise NotImplementedError

    def max_state_bytes(self) -> int:
        """Upper bound on the serialized size of a FULL state with this
        geometry, for driver-side transfer budgeting. Default: the current
        instance's wire size (exact for fixed-size kinds without adaptive
        encodings); kinds whose wire format narrows with content (CM)
        override with the pessimistic widest-dtype size."""
        return len(self.to_bytes())

    @property
    def n_items(self) -> int:
        return int(getattr(self, "_n_items", 0))


def deserialize(buf: bytes | bytearray | memoryview) -> SketchBase:
    mv = memoryview(buf)
    if bytes(mv[:4]) != _MAGIC:
        raise ValueError("bad sketch magic")
    off = 4
    (klen,) = struct.unpack_from("<H", mv, off)
    off += 2
    kind = bytes(mv[off : off + klen]).decode("utf-8")
    off += klen
    (plen,) = struct.unpack_from("<I", mv, off)
    off += 4
    params = json.loads(bytes(mv[off : off + plen]).decode("utf-8"))
    off += plen
    cls = _REGISTRY.get(kind)
    if cls is None:
        raise ValueError(f"unknown sketch kind {kind!r}")
    return cls._from_parts(params, mv[off:])


def np_tobytes(*arrays: np.ndarray) -> bytes:
    """Length-prefixed concatenation of numpy arrays (dtype fixed by caller)."""
    out = []
    for a in arrays:
        raw = np.ascontiguousarray(a).tobytes()
        out.append(struct.pack("<Q", len(raw)))
        out.append(raw)
    return b"".join(out)


def np_frombytes(mv: memoryview, dtypes) -> list[np.ndarray]:
    """Inverse of np_tobytes given the dtype list."""
    off = 0
    arrays = []
    for dt in dtypes:
        (n,) = struct.unpack_from("<Q", mv, off)
        off += 8
        arrays.append(np.frombuffer(mv, dtype=dt, count=n // np.dtype(dt).itemsize, offset=off).copy())
        off += n
    return arrays

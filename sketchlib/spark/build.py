"""Sketch build pipeline (SURVEY.md §3.2 Entry 1, A2 `CREATE SAMPLE` analog).

Verdict's `CREATE SAMPLE` scans the base table once and persists a derived
sample table; our analog scans once and persists sketch states. Two
strategies, both ending in the same tiny merge:

``strategy="map"`` (default, the scale path)
    ``df.mapInArrow(update)`` — each input partition is streamed batch-by-
    batch through numpy update kernels, emitting ONE serialized state per
    (partition × group × sketch). Raw rows are never shuffled; the only
    exchange moves KB states. At 10^12 sequences the shuffle volume is
    O(n_partitions × n_groups × state_bytes) — corpus-size independent.

``strategy="shuffle"`` (Verdict-style comparison path, SURVEY.md A9 + B9)
    ``groupBy(group, salt).applyInPandas(update)`` — shuffles raw rows on a
    salted key. Salting (``salt = xxhash64(doc_id) % n_salts``) bounds the
    largest reduce-side group so one hot source (80% of rows in the fixture)
    cannot OOM a single task. Exists to demonstrate/benchmark why the map
    strategy wins: it pays a full-corpus shuffle the map path avoids.

Merging uses one or two `groupBy` levels (``fanout``): with F partial states
per group, a single reduce task merging all F can bottleneck; two-level
merge caps any task at ``fanout`` states. Every merge of states — here, in
the catalog's refresh and in the query layer's loader — runs
``_merge_by_key``'s one canonical order, so clean and resumed runs produce
byte-identical results (SURVEY.md §7 hard-part 1).

Checkpoint/resume (B10) lives in checkpoint.py and wraps this module.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.taskcontext import TaskContext

from sketchlib.hashing import hash_any
from sketchlib.sketches import (
    HLL,
    KLL,
    KMV,
    Bloom,
    CountMin,
    DDSketch,
    FrequentDirections,
    MinHash,
    MisraGries,
    TDigest,
    deserialize,
)

_KINDS = {
    "hll": HLL,
    "cm": CountMin,
    "mg": MisraGries,
    "kll": KLL,
    "tdigest": TDigest,
    "dd": DDSketch,
    "bloom": Bloom,
    "minhash": MinHash,
    "kmv": KMV,
    "fd": FrequentDirections,
}

_BUILTIN_KINDS = frozenset(_KINDS)
_PLUGIN_STYLE: dict[str, str] = {}  # kind -> 'hashes' | 'keys' | 'values'


def register_sketch_kind(cls, update_style: str = "values", pickle_by_value: bool = False):
    """Register a user-defined mergeable sketch as a first-class kind —
    the extension point of the UDAF surface (SURVEY.md A19): after
    registration, ``SketchSpec(name, kind, col)`` builds it through the
    same zero-shuffle kernel, ``merge_states`` merges it through the same
    KB-state semilattice, and any answerer that only needs the protocol
    (e.g. ``estimates_df`` calling ``estimate()``) serves it.

    ``cls`` must follow the SketchBase protocol (sketches/base.py): a
    unique ``kind`` ClassVar, in-place commutative+associative ``merge``,
    and the ``_params``/``_body_bytes``/``_from_parts`` serde hooks
    (registration wires ``deserialize`` automatically). ``update_style``
    decides what the build kernel feeds it:

    - ``'values'``: every value as float64 via ``update_values(arr)``
      (quantile-style; input_mode 'full');
    - ``'keys'``: per-group UNIQUE int64 keys + multiplicities via
      ``update_values(keys, counts=...)`` (CM-style; non-int columns
      arrive pre-hashed; input_mode 'uniq');
    - ``'hashes'``: per-group unique xxhash64 values via
      ``update_hashes(hashes, n_seen=...)`` (HLL-style; input_mode
      'uniq').

    Re-registering the same class under the same kind is idempotent;
    colliding with a built-in or a DIFFERENT registered class refuses.

    ``pickle_by_value=True`` serializes the DEFINING MODULE into kernel
    closures instead of referencing it by import path — required when the
    module is not importable on executors (a notebook cell, a test file, a
    driver-only script). Plugins shipped via ``--py-files`` or an installed
    package don't need it.
    """
    from sketchlib.sketches.base import SketchBase, register as _serde_register

    if update_style not in ("hashes", "keys", "values"):
        raise ValueError(
            f"update_style must be 'hashes', 'keys' or 'values', got {update_style!r}"
        )
    if not (isinstance(cls, type) and issubclass(cls, SketchBase)):
        raise TypeError(f"{cls!r} must subclass SketchBase (sketch serde protocol)")
    kind = getattr(cls, "kind", "?")
    if not kind or kind == "?":
        raise ValueError(f"{cls.__name__} must define a 'kind' ClassVar")
    if kind in _BUILTIN_KINDS:
        raise ValueError(f"kind {kind!r} is a built-in and cannot be overridden")
    existing = _KINDS.get(kind)
    if existing is not None and (
        existing is not cls or _PLUGIN_STYLE.get(kind) != update_style
    ):
        raise ValueError(
            f"kind {kind!r} already registered to {existing.__name__} "
            f"(style {_PLUGIN_STYLE.get(kind)!r})"
        )
    if pickle_by_value:
        import sys

        from pyspark import cloudpickle

        mod = sys.modules.get(cls.__module__)
        if mod is not None:
            cloudpickle.register_pickle_by_value(mod)
    _serde_register(cls)
    _KINDS[kind] = cls
    _PLUGIN_STYLE[kind] = update_style
    return cls


def _plugin_snapshot(kinds=None) -> dict[str, tuple[type, str]]:
    """Driver-side snapshot of registered plugin kinds, captured into every
    executor kernel closure: executor Python workers import modules fresh,
    so a driver-side register_sketch_kind call is invisible there unless
    the kernel carries it (classes from importable modules pickle by
    reference — unpickling re-imports the defining module, which re-runs
    its registration — and __main__/pickle_by_value classes travel whole).
    ``kinds``: restrict to the kinds a kernel actually builds, so one
    plugin's picklability never affects an unrelated build.

    With ``kinds=None`` (merge/query kernels, whose kinds are only known
    from the state rows AT EXECUTION) each entry is test-pickled and
    unpicklable ones are dropped with a warning: a broken plugin must not
    take down merges of unrelated kinds at closure-pickling time. A merge
    that does contain the broken kind's states then fails executor-side
    with the serde unknown-kind error naming it."""
    if kinds is not None:
        sel = set(kinds) & set(_PLUGIN_STYLE)
        return {k: (_KINDS[k], _PLUGIN_STYLE[k]) for k in sel}
    import logging

    from pyspark import cloudpickle

    snap: dict[str, tuple[type, str]] = {}
    for k in _PLUGIN_STYLE:
        entry = (_KINDS[k], _PLUGIN_STYLE[k])
        try:
            cloudpickle.dumps(entry)
        except Exception as exc:
            logging.getLogger(__name__).warning(
                "plugin sketch kind %r is not picklable and was dropped from "
                "this kernel's plugin snapshot: %s", k, exc,
            )
            continue
        snap[k] = entry
    return snap


def _install_plugins(snap: dict[str, tuple[type, str]]) -> None:
    """Idempotently install a plugin snapshot in THIS process (executor or
    driver) — build dispatch tables and the serde registry."""
    if not snap:
        return
    from sketchlib.sketches.base import _REGISTRY

    for k, (cls, style) in snap.items():
        _KINDS.setdefault(k, cls)
        _PLUGIN_STYLE.setdefault(k, style)
        _REGISTRY.setdefault(k, cls)

STATE_FIELDS = (
    "group string, sketch string, kind string, state binary, "
    "n_items long, part_id int, rows long, tokens long, wall_ms double"
)

# Multi-column GROUP BY (SURVEY.md A9): states carry ONE group string, so a
# composite key is encoded as sep-joined per-column values (nulls as
# "__null__", matching the single-column path). \x1f (ASCII unit separator)
# cannot collide with real text in any sane corpus; split_group() inverts it.
GROUP_SEP = "\x1f"


def group_key_expr(group_by: list[str]) -> F.Column:
    """JVM-side expression computing the SAME composite key string the
    kernel produces — for building equivalent concat-column groupings
    (property-tested byte-identical) and for exact-answer comparisons."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("__null__")) for c in group_by]
    return F.concat_ws(GROUP_SEP, *parts)


def split_group(df: DataFrame, group_by: list[str]) -> DataFrame:
    """Explode a composite ``group`` column back into the original GROUP BY
    columns (string-typed; cast as needed)."""
    parts = F.split(F.col("group"), GROUP_SEP)
    for i, c in enumerate(group_by):
        df = df.withColumn(c, parts.getItem(i))
    return df.drop("group")


def group_name(v) -> str:
    """Canonical string for one group-key value — the SINGLE conversion every
    Python-side kernel/closure must use so state keys match ``group_key_expr``
    (Spark ``CAST(col AS STRING)``) byte-for-byte. Python ``str()`` disagrees
    with Spark on exactly two common key types: booleans (``str(np.True_)``
    = 'True' vs Spark 'true') and timestamps (numpy's 'T'-separated
    nanosecond form vs Spark's space-separated seconds/micros) — a silent
    zero-match footgun on every SQL route that joins states by key. Floats
    can still diverge at extreme magnitudes (Java '1.0E20' vs Python
    '1e+20'); don't group by floats."""
    if isinstance(v, (np.bool_, bool)):
        return "true" if v else "false"
    if isinstance(v, (np.datetime64, pd.Timestamp)):
        return str(pd.Timestamp(v))
    return str(v)


_ARROW_STATE_SCHEMA = pa.schema(
    [
        ("group", pa.string()),
        ("sketch", pa.string()),
        ("kind", pa.string()),
        ("state", pa.binary()),
        ("n_items", pa.int64()),
        ("part_id", pa.int32()),
        ("rows", pa.int64()),
        ("tokens", pa.int64()),
        ("wall_ms", pa.float64()),
    ]
)


@dataclass(frozen=True)
class SketchSpec:
    """One sketch to build: e.g. SketchSpec('hll_doc', 'hll', 'doc_id', {'p': 14}).

    ``weight``: optional weight COLUMN. For a frequency sketch (cm or mg)
    built over weighted increments — each row adds ``weight`` to its key
    instead of 1, so ``topk()`` ranks heavy hitters BY SUM (SELECT key,
    SUM(w) ... ORDER BY 2 DESC LIMIT k served from KB states) and each
    kind's bound holds with N = ΣW, the total weight (CM: ε·N overcount
    w.p. ≥ 1−δ; MG: exact tracked undercount ≤ N/(k+1)). Contract
    enforced by the kernel: weights must be non-negative and
    integer-valued (the CM table is exact int64 counts — a fractional
    weight would silently truncate); rows with a NULL key or NULL weight
    are excluded. Non-integer key columns are hashed like the unweighted
    CM path (top-k then returns key hashes).

    For a ``tdigest``, ``weight`` makes the digest summarize the
    WEIGHT-MASS distribution of the value column — quantiles answer
    "the value below which q of the total weight lies" (e.g.
    tdigest(n_tok, weight=n_tok): the sequence length holding the median
    TOKEN, not the median document — the statistic training-budget math
    actually needs). Centroids carry fractional weights natively;
    weights must be non-negative (zero-weight and NULL rows drop out).
    Other kinds have no weighted-update semantics."""

    name: str
    kind: str
    column: str
    params: dict = field(default_factory=dict)
    weight: str | None = None

    def __post_init__(self):
        if self.weight is not None and self.kind not in ("cm", "mg", "tdigest"):
            raise ValueError(
                f"weight= needs a frequency sketch (cm or mg — weighted heavy "
                f"hitters) or a tdigest (weighted quantiles); {self.kind!r} "
                "has no weighted-update semantics"
            )

    def make(self):
        try:
            return _KINDS[self.kind](**self.params)
        except KeyError:
            raise ValueError(
                f"unknown sketch kind {self.kind!r} — built-ins are "
                f"{sorted(_BUILTIN_KINDS)}; user kinds register via "
                f"register_sketch_kind"
            ) from None

    @property
    def wants_hashes(self) -> bool:
        return self.kind in ("hll", "minhash", "kmv") or (
            _PLUGIN_STYLE.get(self.kind) == "hashes"
        )

    def update(self, sk, values: np.ndarray):
        """Vectorized dispatch: hashes for HLL/MinHash, raw keys/values otherwise."""
        if self.wants_hashes:
            sk.update_hashes(hash_any(values))
        elif self.kind in ("cm", "mg", "bloom") or _PLUGIN_STYLE.get(self.kind) == "keys":
            v = np.asarray(values)
            if v.dtype.kind not in ("i", "u"):
                v = hash_any(v).astype(np.int64)  # non-int keys: sketch their hashes
            sk.add(v) if self.kind == "bloom" else sk.update_values(v)
        else:  # kll / tdigest / 'values'-style plugins
            sk.update_values(np.asarray(values, dtype=np.float64))

    @property
    def input_mode(self) -> str:
        """'uniq' = consumes per-group (unique values, counts) — HLL/MinHash/
        Bloom are set-semantics, CM pre-aggregates; 'full' = needs every
        value (quantile sketches and 'values'-style plugins)."""
        if _PLUGIN_STYLE.get(self.kind) == "values":
            return "full"
        return "full" if self.kind in ("kll", "tdigest", "dd", "fd") else "uniq"


def _column_values(batch: pa.RecordBatch, name: str):
    """(row_values or None, flat_values or None, row_lengths or None) for a column."""
    idx = batch.schema.get_field_index(name)
    if idx < 0:
        # pyarrow's column(-1) would silently return the LAST column — e.g. a
        # hive-partition group column absent from the file schema would sketch
        # garbage with no error. Fail loudly instead.
        raise KeyError(
            f"column {name!r} not in batch schema {batch.schema.names} — for "
            "hive-partitioned layouts the partition column exists only as a "
            "directory name (single-column group_by handles it via const_group; "
            "composite keys need the column materialized in the files)"
        )
    col = batch.column(idx)
    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        flat = col.flatten().to_numpy(zero_copy_only=False)
        lens = pa.compute.list_value_length(col).to_numpy(zero_copy_only=False)
        return None, flat, np.asarray(lens, dtype=np.int64)
    return col.to_numpy(zero_copy_only=False), None, None


def _group_cluster(flat: np.ndarray, kcodes: np.ndarray, ng: int) -> tuple[np.ndarray, np.ndarray]:
    """Cluster values by group code with one stable argsort (radix for ints).

    Returns (values reordered group-contiguously, group start offsets)."""
    if ng == 1:
        return flat, np.array([0, len(flat)], dtype=np.int64)
    order = np.argsort(kcodes, kind="stable")
    starts = np.zeros(ng + 1, dtype=np.int64)
    np.cumsum(np.bincount(kcodes, minlength=ng), out=starts[1:])
    return flat[order], starts


def _group_unique(flat: np.ndarray, kcodes: np.ndarray, ng: int):
    """Per-group unique values + multiplicities in ONE composite sort.

    For non-negative ≤32-bit int values (the tokens:array<int32> hot path),
    packs (group_code << 32 | value) into uint64 and sorts once — O(n log n)
    with numpy's radix-ish sort — then derives uniques, counts, and group
    boundaries from the sorted packed array. Everything downstream (HLL,
    MinHash, Bloom, Count-Min) then operates on |vocab|-sized arrays instead
    of |tokens|-sized ones. Generic dtypes fall back to per-group np.unique.

    Returns (uvals, ucounts, ustarts): group g's uniques are
    uvals[ustarts[g]:ustarts[g+1]] with multiplicities in ucounts.
    """
    if flat.size == 0:
        return flat, np.zeros(0, dtype=np.int64), np.zeros(ng + 1, dtype=np.int64)
    if ng == 1:
        # single-group fast path (hive-partitioned scans: const_group makes
        # EVERY batch single-group): no composite ids, no code multiply —
        # one bincount or one unique. Same (value, count) pairs in the same
        # ascending order as the general path, so states are byte-identical.
        if flat.dtype.kind in ("i", "u") and flat.dtype.itemsize <= 4 and int(flat.min()) >= 0 \
                and int(flat.max()) < (1 << 26):
            cnt = np.bincount(flat)
            nz = np.nonzero(cnt)[0]
            return nz.astype(flat.dtype), cnt[nz], np.array([0, len(nz)], dtype=np.int64)
        u, c = np.unique(flat, return_counts=True)
        return u, c.astype(np.int64), np.array([0, len(u)], dtype=np.int64)
    if flat.dtype.kind in ("i", "u") and flat.dtype.itemsize <= 4 and int(flat.min()) >= 0:
        vspan = int(flat.max()) + 1
        if vspan * ng <= (1 << 26):
            # vocab-bounded fast path: O(n) bincount scatter, no sort at all.
            # int32 keys: the kernel is memory-bandwidth-bound at high core
            # counts, so halving the key-stream width is a real win
            ids = kcodes.astype(np.int32, copy=False) * np.int32(vspan) + flat.astype(
                np.int32, copy=False
            )
            cnt = np.bincount(ids, minlength=vspan * ng)
            nz = np.nonzero(cnt)[0]  # ascending -> already group-clustered
            uvals = (nz % vspan).astype(flat.dtype)
            ucodes = nz // vspan
            ustarts = np.searchsorted(ucodes, np.arange(ng + 1)).astype(np.int64)
            return uvals, cnt[nz], ustarts
        comp = (kcodes.astype(np.uint64) << np.uint64(32)) | flat.astype(np.uint64)
        comp.sort()
        keep = np.empty(len(comp), dtype=bool)
        keep[0] = True
        np.not_equal(comp[1:], comp[:-1], out=keep[1:])
        kept_idx = np.nonzero(keep)[0]
        ucounts = np.diff(kept_idx, append=len(comp))
        kept = comp[kept_idx]
        uvals = (kept & np.uint64(0xFFFFFFFF)).astype(flat.dtype)
        ucodes = kept >> np.uint64(32)
        ustarts = np.searchsorted(ucodes, np.arange(ng + 1, dtype=np.uint64)).astype(np.int64)
        return uvals, ucounts.astype(np.int64), ustarts
    clustered, starts = _group_cluster(flat, kcodes, ng)
    uv, uc, ust = [], [], [0]
    for gi in range(ng):
        u, c = np.unique(clustered[starts[gi] : starts[gi + 1]], return_counts=True)
        uv.append(u)
        uc.append(c)
        ust.append(ust[-1] + len(u))
    return np.concatenate(uv), np.concatenate(uc).astype(np.int64), np.array(ust, dtype=np.int64)


def _weighted_group_pairs(keys, weights, codes, ng: int, spec_name: str):
    """Per-group (unique key, summed weight) pairs for a weighted CM feed.

    One factorize + one weighted bincount per batch — no per-row Python.
    Rows with a NULL key or NULL weight are excluded (no stable increment
    exists for them); negative or fractional weights raise (the CM table
    is exact int64 — truncation would be a silently-wrong SUM).

    Returns (ukeys int64, wsums int64, ustarts): group g's pairs are
    ukeys[ustarts[g]:ustarts[g+1]] with weights in wsums.
    """
    k = np.asarray(keys)
    w = np.asarray(weights)
    if w.dtype == object:
        w = w.astype(np.float64)  # Decimal / mixed numeric objects
    valid = ~(pd.isna(k) | pd.isna(w))
    k, wf = k[valid], w[valid].astype(np.float64)
    cv = np.asarray(codes)[valid]
    if k.size == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64),
                np.zeros(ng + 1, np.int64))
    if (wf < 0).any():
        raise ValueError(
            f"weighted sketch {spec_name!r}: negative weight — Count-Min "
            "absorbs only non-negative increments"
        )
    if not (wf == np.floor(wf)).all():
        raise ValueError(
            f"weighted sketch {spec_name!r}: fractional weight — the CM "
            "table holds exact int64 counts; scale the weight column to "
            "integers first (e.g. cents instead of dollars)"
        )
    if k.dtype.kind in ("i", "u"):
        k64 = k.astype(np.int64)
    else:  # non-int keys: sketch their hashes (same rule as the unweighted path)
        k64 = hash_any(k).astype(np.int64)
    kc_arr, uk = pd.factorize(k64)
    nk = len(uk)
    comp = cv.astype(np.int64) * nk + kc_arr
    cids, cuniq = pd.factorize(comp)
    wsum = np.bincount(cids, weights=wf)  # float64: exact below 2^53
    order = np.argsort(cuniq, kind="stable")
    cs, ws = cuniq[order], wsum[order]
    ukeys = np.asarray(uk, dtype=np.int64)[cs % nk]
    ustarts = np.searchsorted(cs // nk, np.arange(ng + 1)).astype(np.int64)
    return ukeys, ws.astype(np.int64), ustarts


class SketchAccumulator:
    """Per-task sketch state accumulator — the shared batch kernel.

    Per-batch hot path (SURVEY.md §4 "vectorized execution"): each referenced
    column is decoded once and reduced to per-group (unique, count) pairs
    with a single composite sort or bincount scatter (see _group_unique);
    set-semantics sketches (HLL/MinHash/Bloom) and pre-aggregating ones (CM)
    then touch only |vocab|-sized arrays, and the shared 64-bit hash of the
    uniques is computed once for all hash consumers. Quantile sketches get
    group-contiguous full-value slices. No per-group boolean masks, no
    per-spec re-hashing, no per-row Python anywhere.

    Used by both IO paths: Spark-fed ``mapInArrow`` batches and the
    pyarrow-direct row-group reader (see build_sketches_from_parquet).
    """

    def __init__(self, specs: list[SketchSpec], group_by: str | None):
        self.specs = specs
        self.group_by = group_by
        self.weighted = [s for s in specs if s.weight is not None]
        self.by_col: dict[str, list[SketchSpec]] = {}
        for s in specs:
            if s.weight is None:  # weighted CMs consume (key, weight) pairs below
                self.by_col.setdefault(s.column, []).append(s)
        self.states: dict[tuple[str, str], object] = {}
        self.rows_per_group: dict[str, int] = {}
        self.toks_per_group: dict[str, int] = {}
        self.t0 = time.perf_counter()

    def consume_batch(self, batch: pa.RecordBatch, const_group: str | None = None) -> None:
        """Update all sketches from one Arrow batch.

        ``const_group``: group value known from context (hive partition dir)
        when the group column is not materialized in the batch itself.
        """
        n = batch.num_rows
        if n == 0:
            return
        if self.group_by is None or const_group is not None:
            codes = np.zeros(n, dtype=np.int32)
            uniques = [const_group if const_group is not None else ""]
        elif isinstance(self.group_by, (list, tuple)):
            # composite key: factorize each column, combine PAIRWISE with a
            # re-factorize after every combine so codes stay < batch rows
            # (no int64 overflow however many columns); only OBSERVED
            # combinations materialize. Names are GROUP_SEP-joined — byte-
            # identical to sketching a pre-concatenated column (tested).
            codes, uniques = None, None
            for c in self.group_by:
                gcol, _, _ = _column_values(batch, c)
                cc, uu = pd.factorize(gcol)
                nn = [group_name(v) for v in uu] + ["__null__"]
                cc = np.where(cc < 0, len(nn) - 1, cc).astype(np.int64)
                if codes is None:
                    codes, uniques = cc, nn
                else:
                    comp = codes * len(nn) + cc
                    codes, cuniq = pd.factorize(comp)
                    codes = codes.astype(np.int64, copy=False)
                    uniques = [
                        uniques[int(v) // len(nn)] + GROUP_SEP + nn[int(v) % len(nn)]
                        for v in cuniq
                    ]
            # drop a trailing unreferenced "__null__" (single-column case)
            if len(self.group_by) == 1 and not (codes == len(uniques) - 1).any():
                uniques = uniques[:-1]
            codes = codes.astype(np.int32, copy=False)
        else:
            gcol, _, _ = _column_values(batch, self.group_by)
            codes, uniques = pd.factorize(gcol)
            codes = codes.astype(np.int32, copy=False)  # narrow the repeat stream
            if (codes < 0).any():  # factorize marks nulls -1: keep them as a real group
                uniques = list(uniques) + ["__null__"]
                codes = np.where(codes < 0, np.int32(len(uniques) - 1), codes)
        ng = len(uniques)
        gnames = [group_name(v) if not isinstance(v, str) else v for v in uniques]
        if ng == 1:
            self.rows_per_group[gnames[0]] = self.rows_per_group.get(gnames[0], 0) + n
        else:
            rc = np.bincount(codes, minlength=ng)
            for gi, g in enumerate(gnames):
                self.rows_per_group[g] = self.rows_per_group.get(g, 0) + int(rc[gi])

        counted_tokens = False
        for col, col_specs in self.by_col.items():
            rowv, flat, lens = _column_values(batch, col)
            if flat is None:
                flat, kcodes = rowv, codes
            else:
                # ng == 1 (hive const_group / ungrouped): the repeated-code
                # stream is all zeros — skip materializing |tokens|-sized
                # arrays entirely (kcodes is unused by the ng==1 branches of
                # _group_cluster/_group_unique)
                kcodes = np.repeat(codes, lens) if ng > 1 else codes
                if not counted_tokens:
                    if ng == 1:
                        self.toks_per_group[gnames[0]] = (
                            self.toks_per_group.get(gnames[0], 0) + int(lens.sum())
                        )
                    else:
                        tc = np.bincount(codes, weights=lens.astype(np.float64), minlength=ng)
                        for gi, g in enumerate(gnames):
                            self.toks_per_group[g] = self.toks_per_group.get(g, 0) + int(tc[gi])
                    counted_tokens = True
            seg = (
                np.array([flat.size], dtype=np.int64)
                if ng == 1
                else np.bincount(kcodes, minlength=ng)
            )  # raw items per group

            full_specs = [s for s in col_specs if s.input_mode == "full"]
            uniq_specs = [s for s in col_specs if s.input_mode == "uniq"]

            if full_specs:
                clustered, fstarts = _group_cluster(flat, kcodes, ng)
                vals64 = clustered.astype(np.float64, copy=False)
                for gi, g in enumerate(gnames):
                    sl = vals64[fstarts[gi] : fstarts[gi + 1]]
                    if not len(sl):
                        continue
                    for spec in full_specs:
                        self._state(g, spec).update_values(sl)

            if uniq_specs:
                uvals, ucounts, ustarts = _group_unique(flat, kcodes, ng)
                need_hash = any(s.wants_hashes for s in uniq_specs) or (
                    uvals.dtype.kind not in ("i", "u")
                )
                uhash = hash_any(uvals) if need_hash else None
                ints_ok = uvals.dtype.kind in ("i", "u")
                for gi, g in enumerate(gnames):
                    s0, s1 = ustarts[gi], ustarts[gi + 1]
                    if s0 == s1:
                        continue
                    n_seen = int(seg[gi])
                    for spec in uniq_specs:
                        sk = self._state(g, spec)
                        if spec.wants_hashes:
                            sk.update_hashes(uhash[s0:s1], n_seen=n_seen)
                        elif spec.kind == "bloom":
                            sk.add(
                                uvals[s0:s1] if ints_ok else uhash[s0:s1].astype(np.int64),
                                n_seen=n_seen,
                            )
                        else:  # cm / mg / 'keys'-style plugins
                            keys = uvals[s0:s1] if ints_ok else uhash[s0:s1].astype(np.int64)
                            sk.update_values(keys, counts=ucounts[s0:s1])

        for spec in self.weighted:
            kv, _kflat, _ = _column_values(batch, spec.column)
            wv, _wflat, _ = _column_values(batch, spec.weight)
            if kv is None or wv is None:
                raise ValueError(
                    f"weighted sketch {spec.name!r} needs SCALAR key and weight "
                    "columns — array columns have no per-row weight alignment"
                )
            if spec.kind == "tdigest":
                # value-weighted quantile feed: (value, float weight) rows
                # clustered per group with ONE stable argsort shared by both
                # arrays (same permutation — _group_cluster would sort twice);
                # the digest itself does the joint NaN/negative/zero-weight
                # filtering. ng == 1 (the ungrouped on-the-fly SQL case)
                # skips the sort entirely, like _group_cluster's fast path.
                v = np.asarray(kv, dtype=np.float64)
                w = np.asarray(wv, dtype=np.float64)
                if ng == 1:
                    if len(v):
                        self._state(gnames[0], spec).update_values(v, weights=w)
                    continue
                order = np.argsort(codes, kind="stable")
                starts = np.zeros(ng + 1, dtype=np.int64)
                np.cumsum(np.bincount(codes, minlength=ng), out=starts[1:])
                vo, wo = v[order], w[order]
                for gi, g in enumerate(gnames):
                    s0, s1 = starts[gi], starts[gi + 1]
                    if s0 == s1:
                        continue
                    self._state(g, spec).update_values(vo[s0:s1], weights=wo[s0:s1])
                continue
            ukeys, wsums, ustarts = _weighted_group_pairs(kv, wv, codes, ng, spec.name)
            for gi, g in enumerate(gnames):
                s0, s1 = ustarts[gi], ustarts[gi + 1]
                if s0 == s1:
                    continue
                self._state(g, spec).update_values(ukeys[s0:s1], counts=wsums[s0:s1])

    def _state(self, g: str, spec: SketchSpec):
        sk = self.states.get((g, spec.name))
        if sk is None:
            sk = self.states[(g, spec.name)] = spec.make()
        return sk

    def emit(self, part_id: int) -> pa.RecordBatch | None:
        """One state row per (group × sketch), canonically ordered."""
        if not self.states:
            return None
        wall_ms = (time.perf_counter() - self.t0) * 1000.0
        rows = sorted(self.states.items())
        by_name = {s.name: s for s in self.specs}
        arrays = {
            "group": [g for (g, _), _ in rows],
            "sketch": [nm for (_, nm), _ in rows],
            "kind": [by_name[nm].kind for (_, nm), _ in rows],
            "state": [sk.to_bytes() for _, sk in rows],
            "n_items": [sk.n_items for _, sk in rows],
            "part_id": [part_id] * len(rows),
            "rows": [self.rows_per_group.get(g, 0) for (g, _), _ in rows],
            "tokens": [self.toks_per_group.get(g, 0) for (g, _), _ in rows],
            "wall_ms": [wall_ms] * len(rows),
        }
        return pa.RecordBatch.from_pydict(arrays, schema=_ARROW_STATE_SCHEMA)


def _make_update_fn(specs: list[SketchSpec], group_by: str | None):
    """mapInArrow function: stream partition batches -> one state row per group×spec."""
    snap = _plugin_snapshot({s.kind for s in specs})

    def update(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _install_plugins(snap)
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        acc = SketchAccumulator(specs, group_by)
        for batch in batches:
            acc.consume_batch(batch)
        out = acc.emit(pid)
        if out is not None:
            yield out

    return update


def _merge_by_key(rows) -> dict[tuple[str, str], tuple[object, list]]:
    """{(group, sketch): (merged sketch, that key's rows in merge order)},
    keys sorted — THE canonical state merge every route runs (the build's
    and the UNION ALL route's ``merge_states``, the refresh's driver merge,
    the serving loader ``query._rows_to_states``).

    Each key's rows are sorted by (part_id, state bytes) and folded left to
    right, so the merge tree is a function of the inputs alone: a resumed
    run byte-matches a clean one, and every route byte-matches every other,
    even for order-sensitive sketches (KLL/t-digest compactions, the capped
    Count-Min candidate list). A row without ``part_id`` sorts as -1, as a
    merged row does. Accepts dict rows or pyspark Rows."""
    by_key: dict[tuple[str, str], list] = {}
    for r in rows:
        by_key.setdefault((r["group"], r["sketch"]), []).append(r)

    def order(r):
        fields = getattr(r, "__fields__", r)
        return (r["part_id"] if "part_id" in fields else -1, bytes(r["state"]))

    out = {}
    for key in sorted(by_key):
        rs = sorted(by_key[key], key=order)
        acc = deserialize(rs[0]["state"])
        for r in rs[1:]:
            acc.merge(deserialize(r["state"]))
        out[key] = (acc, rs)
    return out


def merge_rows(rows) -> list[dict]:
    """One STATE_FIELDS dict per (group, sketch) of ``rows`` (keys sorted):
    the ``_merge_by_key`` state, part_id -1, and the rows' summed
    rows/tokens/wall_ms. Columns outside STATE_FIELDS (the fanout's
    ``bucket``) are ignored."""
    return [
        {
            "group": g,
            "sketch": name,
            "kind": rs[0]["kind"],
            "state": acc.to_bytes(),
            "n_items": int(acc.n_items),
            "part_id": -1,
            "rows": int(sum(r["rows"] for r in rs)),
            "tokens": int(sum(r["tokens"] for r in rs)),
            "wall_ms": float(sum(r["wall_ms"] for r in rs)),
        }
        for (g, name), (acc, rs) in _merge_by_key(rows).items()
    ]


def merge_states(states: DataFrame, fanout: int | None = None) -> DataFrame:
    """Reduce partial states to one row per (group, sketch): ``merge_rows``
    (canonical order: ``_merge_by_key``) over each key's rows, as an Arrow
    grouped UDF — the binary states cross the Python boundary once, with
    no pandas round trip.

    ``fanout``: optional two-level merge — level 1 on (group, sketch,
    part_id % fanout) caps any merge task at ~fanout inputs; level 2 merges
    the ≤fanout survivors. Use when n_partitions is large (cluster scale).

    The merge input is explicitly hash-repartitioned on the grouping keys to
    ``defaultParallelism`` partitions: AQE's partition coalescing otherwise
    folds the MB-scale partial-state shuffle into one or two reduce tasks
    (it is far under the advisory size), serializing every per-(group,
    sketch) merge through a single Python worker. The groupBy reuses this
    exchange (same keys ⇒ ClusteredDistribution satisfied — one Exchange in
    the plan either way, plan-locked below); AQE does not re-coalesce a
    user-specified repartition. Measured (quiet box, sf0.1 seq table,
    5 interleaved pairs): build+merge 1.26 → 1.08 s, all pairs winning;
    the earlier mid-round attempt could not replicate this above the
    then-host's noise — see OPTIMIZATION_r06.md.
    """
    snap = _plugin_snapshot()

    def merge_fn(table: pa.Table) -> pa.Table:
        _install_plugins(snap)
        return pa.Table.from_pylist(merge_rows(table.to_pylist()), schema=_ARROW_STATE_SCHEMA)

    n = states.sparkSession.sparkContext.defaultParallelism
    if fanout and fanout > 1:
        states = (
            states.withColumn("bucket", F.pmod(F.col("part_id"), F.lit(fanout)))
            .repartition(n, "group", "sketch", "bucket")
            .groupBy("group", "sketch", "bucket")
            .applyInArrow(merge_fn, STATE_FIELDS)
        )
    return (
        states.repartition(n, "group", "sketch")
        .groupBy("group", "sketch")
        .applyInArrow(merge_fn, STATE_FIELDS)
    )


def regroup_states(
    states: DataFrame, keep: list[int], fanout: int | None = None
) -> DataFrame:
    """Re-key grouped states onto the group-key-part subset ``keep`` (indices
    into the composite GROUP_SEP-joined key, original order) and merge —
    answering any COARSER grouping from the same build. ``keep=[]`` merges
    everything into one global state (group='').

    This is the mergeability dividend ROLLUP/CUBE cash in: one pass over the
    base data builds states at the finest grain, and every coarser grouping
    set is a KB-sized state-frame merge — no rescans, no second shuffle of
    raw rows. At 100 TB the per-level cost is independent of corpus size.
    """
    n = len(keep)
    parts = F.split(F.col("group"), GROUP_SEP)
    key = (
        F.concat_ws(GROUP_SEP, *[parts.getItem(i) for i in keep])
        if n
        else F.lit("")
    )
    return merge_states(states.withColumn("group", key), fanout=fanout)


def group_cols(group_by) -> set[str]:
    """Columns a group_by (None | str | list[str]) references."""
    if group_by is None:
        return set()
    return set(group_by) if isinstance(group_by, (list, tuple)) else {group_by}


def spec_cols(specs: list[SketchSpec]) -> set[str]:
    """Every input column the specs read (keys + weighted-CM weight columns)."""
    return {s.column for s in specs} | {s.weight for s in specs if s.weight}


def partial_states(df: DataFrame, specs: list[SketchSpec], group_by="source") -> DataFrame:
    """Stage 1 only: per-partition partial states (used by checkpointing + Bloom pruning).

    ``group_by``: None, a column name, or a LIST of column names (composite
    key — states carry the GROUP_SEP-joined value; see split_group)."""
    cols = sorted(spec_cols(specs) | group_cols(group_by))
    narrow = df.select(*cols)  # explicit pruning: the Python UDF boundary blocks Catalyst above it
    return narrow.mapInArrow(_make_update_fn(specs, group_by), STATE_FIELDS)


def build_sketches(
    df: DataFrame,
    specs: list[SketchSpec],
    group_by: str | list[str] | None = "source",
    strategy: str = "map",
    fanout: int | None = None,
    n_salts: int = 32,
    salt_on: str | None = None,
) -> DataFrame:
    """Build merged sketch states: one row per (group value × spec).

    Returns a DataFrame with STATE_FIELDS schema (part_id = -1 after merge).
    """
    if strategy == "map":
        return merge_states(partial_states(df, specs, group_by), fanout=fanout)
    if strategy != "shuffle":
        raise ValueError(f"unknown strategy {strategy!r}")

    # Verdict-style shuffle path with explicit salting (SURVEY.md B9).
    gcols = sorted(group_cols(group_by))
    cols = sorted(spec_cols(specs) | set(gcols))
    narrow = df.select(*cols)
    salt_src = salt_on or (gcols[0] if gcols else cols[0])
    salted = narrow.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_src).cast("string"), F.lit(17)), F.lit(n_salts))
    )
    shuffle_keys = gcols + ["_salt"]
    glist = list(group_by) if isinstance(group_by, (list, tuple)) else (
        [group_by] if group_by else []
    )

    snap = _plugin_snapshot({s.kind for s in specs})

    def update_group(pdf: pd.DataFrame) -> pd.DataFrame:
        _install_plugins(snap)
        out_rows = []
        g = GROUP_SEP.join(
            "__null__" if pd.isna(pdf[c].iloc[0]) else group_name(pdf[c].iloc[0])
            for c in glist
        )
        for spec in specs:
            sk = spec.make()
            colvals = pdf[spec.column].to_numpy()
            n_tokens = 0  # per SPEC — a stale carry-over from a previous
            # array spec would mislabel scalar/weighted rows' metadata
            if spec.weight is not None and spec.kind == "tdigest":
                # value-weighted quantile feed (see SketchSpec): the digest
                # does the joint NaN/negative/zero-weight filtering
                v = pdf[spec.column].astype("float64").to_numpy()
                w = pdf[spec.weight].astype("float64").to_numpy()
                if len(v):
                    sk.update_values(v, weights=w)
                vals = None
            elif spec.weight is not None:
                zero = np.zeros(len(colvals), dtype=np.int32)
                uk, ws, _ = _weighted_group_pairs(
                    colvals, pdf[spec.weight].to_numpy(), zero, 1, spec.name
                )
                if len(uk):
                    sk.update_values(uk, counts=ws)
                vals = None
            elif len(colvals) and isinstance(colvals[0], (list, np.ndarray)):
                vals = np.concatenate([np.asarray(a) for a in colvals]) if len(colvals) else np.empty(0)
                n_tokens = int(sum(len(a) for a in colvals))
            else:
                vals = colvals
            if vals is not None:
                spec.update(sk, vals)
            out_rows.append(
                (g, spec.name, spec.kind, sk.to_bytes(), sk.n_items, int(pdf["_salt"].iloc[0]), len(pdf), n_tokens, 0.0)
            )
        return pd.DataFrame(
            out_rows,
            columns=["group", "sketch", "kind", "state", "n_items", "part_id", "rows", "tokens", "wall_ms"],
        )

    partial = salted.groupBy(*shuffle_keys).applyInPandas(update_group, STATE_FIELDS)
    return merge_states(partial, fanout=fanout)

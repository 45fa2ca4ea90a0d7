"""Query layer (SURVEY.md §3.2 Entry 2): answers from sketch states alone.

This reproduces Verdict's headline property — query latency independent of
corpus size — because the inputs here are the merged state rows (KBs per
group), never the base table. Every answer carries an explicit error bound
(Verdict's ``± err`` companion columns, SURVEY.md A15).

Two execution paths, selected by group cardinality, plus a shortcut:

- **driver** (≤ _DISTRIBUTED_THRESHOLD groups, the Verdict-typical case of
  source-level grouping): states are collected — exactly one row per
  (group × sketch), i.e. tens of KB-sized rows. Not a driver-side data loop;
  the final reduce of a tree aggregation.
- **distributed** (high-cardinality GROUP BY): estimation runs executor-side
  via ``mapInPandas`` over the state rows. No shuffle is added at all —
  merged states are already one row per (group × sketch), so per-row
  estimation is embarrassingly parallel (strictly cheaper than a
  groupBy+applyInPandas, which would pay an Exchange for nothing) and the
  driver never materializes the state set.
- **caller-held rows** (``rows=``, e.g. ``SketchCatalog.state_rows``, read
  with pyarrow on the driver and cached per set version, so a repeat
  statement opens no state file): the driver path without the routing
  probe, so no Spark job runs at all. The rows carry state ``bytes``; each
  answer deserializes its own sketch objects, so merging never touches
  the cached rows.

``distributed=None`` (default) auto-selects in ONE job for the common
driver case: a ``limit(threshold+1).collect()`` probe both decides the
path and delivers the state rows the driver path answers from (no
persist+count job preceding the answer — that two-job shape re-executed
the whole upstream sketch build once per query and was the measured r3
bench regression). Only the high-cardinality overflow persists the states
so the distributed pass doesn't recompute the build; it then eagerly
materializes its (tiny) result via localCheckpoint and unpersists — no
cached state sets accumulate across repeated calls.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from sketchlib.hashing import hash_any
from sketchlib.sketches import deserialize

_DISTRIBUTED_THRESHOLD = 1000

# DDL type name → (arrow type, Spark type) for the result schemas built below
_DDL_TYPES = {
    "string": (pa.string(), T.StringType()),
    "double": (pa.float64(), T.DoubleType()),
    "long": (pa.int64(), T.LongType()),
    "bigint": (pa.int64(), T.LongType()),
    "int": (pa.int32(), T.IntegerType()),
    "boolean": (pa.bool_(), T.BooleanType()),
    "binary": (pa.binary(), T.BinaryType()),
}


@functools.lru_cache(maxsize=256)
def _ddl_schemas(ddl: str):
    """(pyarrow schema, StructType) of a flat DDL schema string such as
    ``"group string, estimate double"`` — parsed driver-side, no JVM
    round trip. Every field is nullable, as Spark's DDL parser makes it."""
    arrow, spark_fields = [], []
    for part in ddl.split(","):
        name, typ = part.split()
        a, s = _DDL_TYPES[typ.lower()]
        arrow.append(pa.field(name, a))
        spark_fields.append(T.StructField(name, s, True))
    return pa.schema(arrow), T.StructType(spark_fields)


def ddl_arrow_schema(ddl: str):
    """pyarrow twin of a flat DDL schema string."""
    return _ddl_schemas(ddl)[0]


def local_frame(spark: SparkSession, rows, schema, nan_as_null: bool = False) -> DataFrame:
    """A DataFrame over driver-built ``rows`` (tuples in field order) with
    exactly the declared ``schema`` (a flat DDL string or a StructType),
    launching no Spark job: a pyarrow Table becomes a local relation, where
    ``createDataFrame(list, ddl)`` runs a job to parallelize the rows and a
    pandas frame infers its types (a DDL ``int`` column came back
    ``bigint``). ``nan_as_null`` maps float NaN to NULL, the conversion
    pandas-built frames (the executor-side answer path) apply."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        arrow, struct = _ddl_schemas(schema)
    else:
        arrow, struct = to_arrow_schema(schema), schema
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type, from_pandas=nan_as_null) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema=struct)


def _pull_rows(df: DataFrame, limit: int | None = None) -> list[dict]:
    """Collect state rows as ONE Arrow job (``toPandas``) instead of
    ``collect()``. Two measured costs of the row path (sf1 replica,
    OPTIMIZATION_r06.md): ``limit(n).collect()`` runs Spark's incremental
    executeTake — partition WAVES execute sequentially until the limit
    fills, which serializes a partial-states build into several sub-jobs —
    and row pickling moves MB-scale sketch blobs at ~90 MB/s. The Arrow
    path runs every partition in one job and ships the binary state column
    in batches (b04 probe 0.87 → 0.35 s, b03 probe 1.28 → 0.87 s).
    Returns plain dict rows (same ``r["col"]`` access as Row)."""
    if limit is not None:
        df = df.limit(limit)
    return df.toPandas().to_dict("records")


def load_states(states: DataFrame) -> dict[tuple[str, str], object]:
    """{(group, sketch_name): sketch object} from a merged-states DataFrame."""
    return _rows_to_states(_pull_rows(states.select("group", "sketch", "state")))


def _map_states(sub: DataFrame, per_state_rows, out_schema: str, out_cols: list[str]) -> DataFrame:
    """Executor-side estimation: one Python loop PER ARROW BATCH of state
    rows (never per value), emitting ``per_state_rows(group, sketch_obj)``
    tuples. Adds no shuffle — upstream merge already produced one row per
    (group × sketch)."""

    from sketchlib.spark.build import _install_plugins, _plugin_snapshot

    snap = _plugin_snapshot()

    def gen(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _install_plugins(snap)
        for pdf in pdf_iter:
            rows = []
            for g, st in zip(pdf["group"], pdf["state"]):
                rows.extend(per_state_rows(g, deserialize(bytes(st))))
            yield pd.DataFrame(rows, columns=out_cols)

    return sub.select("group", "state").mapInPandas(gen, out_schema)


_PROBE_ROWS = 64  # caps probe TRANSFER at 64 × state size (~70 MB for ε=1e-4 CM)
_PARTIAL_PROBE_BYTES = 256 << 20  # byte budget for a partial-states probe pull


def _partial_probe_cap(partial_specs, sketch: str) -> int:
    """Row cap for a PARTIAL-states probe: the spec's pessimistic wire size
    is known driver-side (spec.make().max_state_bytes() — geometry-derived,
    never smaller than an actual state), so the cap keeps the pull under
    _PARTIAL_PROBE_BYTES however many tasks contributed. Floor at
    _PROBE_ROWS so tiny sketches never probe below the merged-path cap."""
    per = 1024
    for s in partial_specs:
        if s.name == sketch:
            try:
                per = max(s.make().max_state_bytes(), 1)
            except Exception:
                per = 1024
            break
    return max(_PROBE_ROWS, min(_PARTIAL_PROBE_BYTES // per, 8192))


def _route(states: DataFrame, sketch: str, distributed: bool | None, partial_specs=None):
    """(probe rows | None, filtered states, persisted?) — see module
    docstring. Auto-routing costs ONE job in the common driver case: a
    ``limit(_PROBE_ROWS+1).collect()`` probe both decides the path AND
    delivers the state rows the driver path needs, so no persist+count job
    precedes the answer (round 3 ran count-then-collect — two jobs; the
    A/B bisect of the r3 bench regression landed exactly here). The probe
    limit is SMALL (64) because probe rows carry the serialized states —
    probing at the full distributed threshold would pull up to 10³
    MB-scale CM blobs to the driver just to learn "too many groups".
    Group counts between the probe limit and the distributed threshold
    fall back to persist+count routing: count transfers nothing, and the
    persisted states serve whichever path wins without recomputing the
    upstream build.

    With ``partial_specs`` (a list of SketchSpec), ``states`` holds
    UNMERGED per-task partial states (build.partial_states output): the
    probe pulls them directly — skipping the merge Exchange AND the second
    Python stage — and ``_rows_to_states`` performs the canonical
    driver-side merge (byte-identical to ``merge_states``: same
    (part_id, state) order). The answer path then runs as ONE job
    (scan → mapInArrow → limit-collect) instead of three stages plus a
    second state pull. If the partial row count exceeds the byte-aware cap
    (many tasks × groups — the cluster-scale case), fall back to
    ``merge_states`` + this routing so the distributed path never sees
    duplicate (group, sketch) rows."""
    if partial_specs is not None:
        from sketchlib.spark.build import merge_states

        sub = states.filter(F.col("sketch") == sketch)
        if distributed is not True:
            cap = _partial_probe_cap(partial_specs, sketch)
            probe = _pull_rows(
                sub.select("group", "sketch", "state", "part_id"), cap + 1
            )
            if len(probe) <= cap:
                return probe, sub, False
        return _route(merge_states(sub), sketch, distributed)
    sub = states.filter(F.col("sketch") == sketch)
    if distributed is True:
        return None, sub, False
    if distributed is False:
        return _pull_rows(sub.select("group", "sketch", "state")), sub, False
    probe = _pull_rows(sub.select("group", "sketch", "state"), _PROBE_ROWS + 1)
    if len(probe) <= _PROBE_ROWS:
        return probe, sub, False
    sub = sub.persist()
    if sub.count() <= _DISTRIBUTED_THRESHOLD:
        rows = _pull_rows(sub.select("group", "sketch", "state"))
        sub.unpersist()
        return rows, sub, False
    return None, sub, True


def _rows_to_states(rows) -> dict[tuple[str, str], object]:
    """{(group, sketch_name): sketch object} from collected state rows.

    Rows may be PARTIAL states (several per (group, sketch), from the
    merge-free probe path): duplicates are merged driver-side in the same
    canonical (part_id, state bytes) order as ``_merge_pdf``, so the result
    is byte-identical to collecting ``merge_states`` output (tested in
    tests/test_query_partials.py). Accepts the dict rows of ``_pull_rows``
    or pyspark Rows."""
    by_key: dict[tuple[str, str], list] = {}
    for r in rows:
        by_key.setdefault((r["group"], r["sketch"]), []).append(r)

    def _pid(r):
        fields = getattr(r, "__fields__", r)
        return r["part_id"] if "part_id" in fields else -1

    out: dict[tuple[str, str], object] = {}
    for key, rs in by_key.items():
        if len(rs) > 1:
            rs.sort(key=lambda r: (_pid(r), bytes(r["state"])))
        acc = deserialize(rs[0]["state"])
        for r in rs[1:]:
            acc.merge(deserialize(r["state"]))
        out[key] = acc
    return out


def _finish_dist(out: DataFrame, sub: DataFrame, persisted: bool) -> DataFrame:
    """Release the routing cache on the distributed path: eagerly materialize
    the (tiny — rows per group, not states) result via localCheckpoint, then
    unpersist the cached state set so repeated auto-routed calls don't
    accumulate MB-scale cached states in executor storage."""
    if persisted:
        out = out.localCheckpoint(eager=True)
        sub.unpersist()
    return out


def _answer(
    spark: SparkSession,
    states: DataFrame,
    sketch: str,
    distributed: bool | None,
    rows_fn,
    schema: str,
    cols: list[str],
    partial_specs=None,
    rows=None,
) -> DataFrame:
    """Shared driver/distributed execution for the per-state answer
    functions: ONE ``rows_fn(group, sketch_obj) -> [tuples]`` drives both
    paths, so the estimator logic exists exactly once per answer shape.

    ``rows``: state rows (``group``, ``sketch``, ``state`` [, ``part_id``])
    the caller already holds — e.g. ``SketchCatalog.state_rows`` — answered
    on the driver path without routing, so ``states`` is not read and no
    Spark job runs. Rows of other sketches are ignored."""
    if rows is None:
        probe, sub, persisted = _route(states, sketch, distributed, partial_specs)
        if probe is None:
            return _finish_dist(_map_states(sub, rows_fn, schema, cols), sub, persisted)
    else:
        probe = [r for r in rows if r["sketch"] == sketch]
    out = []
    for (g, _name), sk in sorted(_rows_to_states(probe).items()):
        out.extend(rows_fn(g, sk))
    return local_frame(spark, out, schema, nan_as_null=True)


def estimates_df(
    spark: SparkSession, states: DataFrame, sketch: str,
    distributed: bool | None = None, partial_specs=None, rows=None,
) -> DataFrame:
    """(group, estimate, rse_bound) for a cardinality sketch (HLL/KMV)."""
    return _answer(
        spark, states, sketch, distributed,
        lambda g, sk: [(g, *map(float, sk.estimate()))],
        "group string, estimate double, rse_bound double",
        ["group", "estimate", "rse_bound"],
        partial_specs=partial_specs, rows=rows,
    )


def topk_df(
    spark: SparkSession, states: DataFrame, sketch: str, k: int,
    distributed: bool | None = None, partial_specs=None, rows=None,
) -> DataFrame:
    """(group, token, est_count, err_bound) top-k heavy hitters per group (CM).

    Refuses Misra-Gries states: MG's bound is an UNDERCOUNT certificate
    (true ∈ [est, est+bound]) — the inverse of CM's overcount interval —
    so serving it under CM's ``err_bound`` name would silently flip the
    interval. Use :func:`mg_topk_df` for MG states."""

    def per_state(g, sk):
        if getattr(sk, "kind", None) == "mg":
            raise ValueError(
                f"sketch {sketch!r} holds Misra-Gries states; their bound is an "
                "undercount certificate, not CM's err_bound — use mg_topk_df"
            )
        ids, est = sk.topk(k)
        bound = float(sk.error_bound())
        return [(g, int(i), int(e), bound) for i, e in zip(ids.tolist(), est.tolist())]

    return _answer(
        spark, states, sketch, distributed, per_state,
        "group string, token long, est_count long, err_bound double",
        ["group", "token", "est_count", "err_bound"],
        partial_specs=partial_specs, rows=rows,
    )


def mg_topk_df(
    spark: SparkSession, states: DataFrame, sketch: str, k: int,
    distributed: bool | None = None, partial_specs=None, rows=None,
) -> DataFrame:
    """(group, token, est_count, undercount_bound) top-k per group from
    Misra-Gries states — the DETERMINISTIC complement of ``topk_df``'s CM
    route. The bound column is named for what MG actually guarantees:
    est ≤ true ≤ est + undercount_bound, with CERTAINTY (no δ), where the
    bound is the summary's exactly-tracked cumulative decrement — usually
    far below the a-priori N/(k+1) worst case (Misra & Gries 1982; merge
    bound Agarwal et al., Mergeable Summaries, 2013). Same schema shape as
    the CM serve so consumers can swap routes, but the differently-named
    bound refuses to let an undercount certificate be read as CM's
    overcount one (the rel_quantiles_df/quantiles_df convention)."""

    def per_state(g, sk):
        ids, est = sk.topk(k)
        bound = float(sk.error_bound())
        return [(g, int(i), int(e), bound) for i, e in zip(ids.tolist(), est.tolist())]

    return _answer(
        spark, states, sketch, distributed, per_state,
        "group string, token long, est_count long, undercount_bound double",
        ["group", "token", "est_count", "undercount_bound"],
        partial_specs=partial_specs, rows=rows,
    )


def quantiles_df(
    spark: SparkSession, states: DataFrame, sketch: str, qs,
    distributed: bool | None = None, partial_specs=None, rows=None,
) -> DataFrame:
    """(group, q, value, rank_err_bound) per group for KLL/t-digest states."""
    qs = list(qs)
    qarr = np.array(qs)

    def per_state(g, sk):
        vals = sk.quantiles(qarr)
        bound = float(sk.error_bound())
        return [(g, float(q), float(v), bound) for q, v in zip(qs, vals.tolist())]

    return _answer(
        spark, states, sketch, distributed, per_state,
        "group string, q double, value double, rank_err_bound double",
        ["group", "q", "value", "rank_err_bound"],
        partial_specs=partial_specs, rows=rows,
    )


def rel_quantiles_df(
    spark: SparkSession, states: DataFrame, sketch: str, qs,
    distributed: bool | None = None, partial_specs=None, rows=None,
) -> DataFrame:
    """(group, q, value, rel_err_bound) per group for DDSketch states.

    Same serving shape as ``quantiles_df`` but the bound column is named
    for what DDSketch actually guarantees: RELATIVE VALUE error α
    (|v̂ − v_q| ≤ α·|v_q|, Masson et al. VLDB 2019) — not KLL/t-digest's
    rank error. A caller comparing the two families must not read one
    bound as the other, so the schemas refuse to blur them.
    """
    qs = list(qs)
    qarr = np.array(qs)

    def per_state(g, sk):
        vals = sk.quantiles(qarr)
        bound = float(sk.error_bound())
        return [(g, float(q), float(v), bound) for q, v in zip(qs, vals.tolist())]

    return _answer(
        spark, states, sketch, distributed, per_state,
        "group string, q double, value double, rel_err_bound double",
        ["group", "q", "value", "rel_err_bound"],
        partial_specs=partial_specs, rows=rows,
    )


def _window_mass_fn(sk):
    """``mass(lo, hi)`` = estimated P(lo ≤ x ≤ hi) — a CLOSED window, so
    inverting it targets exactly the same quantity as the closed-window
    order statistic of |x − m̂| (a half-open window built from two
    right-ranks would exclude tie atoms sitting precisely on the left
    edge, and the exact MAD could then fall below the bracket by a full
    atom's value gap). The weighted CDF is hoisted ONCE: KLL's ``rank``
    rebuilds and re-sorts the full compactor list on every call, and a
    64-step bisection would otherwise pay that ~130 times per group.
    Falls back to the sketch's own ``rank`` when there is no discrete
    form to hoist (t-digest's CDF is a continuous interpolation of its
    already-sorted centroids — no tie atoms, closed = half-open)."""
    if hasattr(sk, "_weighted"):
        v, w = sk._weighted()
        if len(v) == 0:
            return lambda lo, hi: float("nan")
        cum = np.concatenate([[0.0], np.cumsum(w)])
        total = cum[-1]

        def mass(lo: float, hi: float) -> float:
            hi_r = cum[np.searchsorted(v, hi, side="right")]
            lo_r = cum[np.searchsorted(v, lo, side="left")]
            return float((hi_r - lo_r) / total)

        return mass

    def mass(lo: float, hi: float) -> float:
        hi_r, lo_r = sk.rank(np.array([hi, lo]))
        return float(hi_r - lo_r)

    return mass


def _mass_inverse(mass_fn, center: float, target: float, t_max: float) -> float:
    """Smallest t ≥ 0 with mass_fn(center−t, center+t) ≥ target, by
    bisection (the closed-window mass is monotone non-decreasing in t and
    the solution set is a closed right ray — atoms at distance exactly t*
    are included AT t*). Returns t_max when even the full spread does not
    reach the target mass (only possible for target > 1 − ties slop)."""

    def mass(t: float) -> float:
        return mass_fn(center - t, center + t)

    if mass(t_max) < target:
        return float(t_max)
    lo_t, hi_t = 0.0, float(t_max)
    for _ in range(64):
        mid = 0.5 * (lo_t + hi_t)
        if mass(mid) >= target:
            hi_t = mid
        else:
            lo_t = mid
    return hi_t


def mad_df(
    spark: SparkSession, states: DataFrame, sketch: str,
    distributed: bool | None = None, partial_specs=None, rows=None,
) -> DataFrame:
    """(group, median_est, mad_est, mad_lo, mad_hi, rank_err_bound) —
    approximate MEDIAN ABSOLUTE DEVIATION per group from a SINGLE quantile
    state (KLL or t-digest), no second pass over the data.

    The textbook MAD = median(|x − median(x)|) needs two scans (the second
    re-aggregates |x − m|). But the quantity is recoverable from one CDF:
    MAD around a center c is the smallest t with P(c−t ≤ x ≤ c+t) ≥ 1/2
    (a CLOSED window, matching the order statistic of |x − c| — tie atoms
    on the window edge count), and a quantile sketch serves the window
    mass everywhere. We center on the SERVED median
    m̂ (self-consistent with the report's own median column), so the only
    error source is F̂ vs F at the two probe points — the sketch's uniform
    rank guarantee |F̂ − F| ≤ ε gives |M̂(t) − M(t)| ≤ 2ε for the window
    mass M(t) = F(m̂+t) − F(m̂−t). Inverting M̂ at 1/2 ∓ 2ε therefore
    BRACKETS the exact MAD-around-m̂:

        t_lo = M̂⁻¹(1/2 − 2ε)  ≤  t*  ≤  M̂⁻¹(1/2 + 2ε) = t_hi

    (t < t_lo ⇒ M̂ < 1/2 − 2ε ⇒ M < 1/2; at t_hi, M ≥ M̂ − 2ε ≥ 1/2.)
    This is the robust spread statistic for quality-score distributions —
    unlike stddev it ignores the heavy tail that IS the thing being gated —
    served from already-registered states at interactive latency. Heavily
    tied distributions can pin the bracket to a tie atom; the bracket stays
    valid, just wide on one side.
    """

    def per_state(g, sk):
        eps = float(sk.error_bound())
        m, v_lo, v_hi = (float(x) for x in sk.quantiles(np.array([0.5, 0.0, 1.0])))
        if not np.isfinite(m):
            return [(g, float("nan"), float("nan"), float("nan"), float("nan"), eps)]
        t_max = max(v_hi - m, m - v_lo, 0.0) * (1.0 + 1e-9) + 1e-12
        mass = _window_mass_fn(sk)
        est = _mass_inverse(mass, m, 0.5, t_max)
        t_lo = _mass_inverse(mass, m, max(0.5 - 2.0 * eps, 0.0), t_max)
        t_hi = _mass_inverse(mass, m, min(0.5 + 2.0 * eps, 1.0), t_max)
        return [(g, m, float(est), float(t_lo), float(t_hi), eps)]

    return _answer(
        spark, states, sketch, distributed, per_state,
        "group string, median_est double, mad_est double, mad_lo double, "
        "mad_hi double, rank_err_bound double",
        ["group", "median_est", "mad_est", "mad_lo", "mad_hi", "rank_err_bound"],
        partial_specs=partial_specs, rows=rows,
    )


def equidepth_histogram_df(
    spark: SparkSession, states: DataFrame, sketch: str, n_bins: int,
    distributed: bool | None = None, partial_specs=None, rows=None,
) -> DataFrame:
    """(group, bin, lo, hi, target_frac, rank_err_bound) — EQUI-DEPTH bin
    edges per group from a KLL/t-digest state: edges at quantiles i/n_bins,
    so each bin holds ≈ 1/n_bins of the rows (each edge's rank is within
    the sketch's ε of its target, so a bin's true mass is within 2ε of
    1/n_bins). The 100 TB use: feature bucketing / score stratification
    needs equal-mass bins, and the exact route is a full sort (NTILE
    window) over the corpus — this serves the same edges from registered
    states with zero corpus work. Bins are left-open/right-closed
    (lo, hi]; the first bin additionally includes its lo (the minimum).
    Heavy ties can collapse adjacent edges; the degenerate (lo == hi) bins
    then carry the tie atom's excess mass — callers merging such bins keep
    the 2ε-per-edge guarantee."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    edges_q = np.linspace(0.0, 1.0, n_bins + 1)

    def per_state(g, sk):
        eps = float(sk.error_bound())
        edges = sk.quantiles(edges_q)
        return [
            (g, int(i), float(edges[i]), float(edges[i + 1]), 1.0 / n_bins, eps)
            for i in range(n_bins)
        ]

    return _answer(
        spark, states, sketch, distributed, per_state,
        "group string, bin int, lo double, hi double, target_frac double, "
        "rank_err_bound double",
        ["group", "bin", "lo", "hi", "target_frac", "rank_err_bound"],
        partial_specs=partial_specs, rows=rows,
    )


def _items_weights(sk):
    """Sorted (values, weights) coreset view of a quantile state: KLL's
    compactor items at weight 2^level, or t-digest's centroids. Both are
    the sketch's own internal representation — no extra work, no copy of
    the corpus."""
    if hasattr(sk, "_weighted"):
        return sk._weighted()
    if hasattr(sk, "means") and hasattr(sk, "weights"):
        sk._flush()
        return sk.means, sk.weights
    raise ValueError(
        f"{type(sk).kind!r} state carries no weighted item view — "
        "trimmed_mean_df serves KLL and t-digest registrations"
    )


def _window_mean(v: np.ndarray, cum: np.ndarray, total: float, a: float, b: float) -> float:
    """Weighted mean of the coreset mass with cumulative rank in
    (a·total, b·total], prorating items that straddle a boundary."""
    lo_m, hi_m = a * total, b * total
    prev = np.concatenate([[0.0], cum[:-1]])
    win = np.clip(np.minimum(cum, hi_m) - np.maximum(prev, lo_m), 0.0, None)
    wsum = float(win.sum())
    if wsum <= 0.0:
        return float("nan")
    return float((win * v).sum() / wsum)


def trimmed_mean_df(
    spark: SparkSession, states: DataFrame, sketch: str,
    lo: float = 0.05, hi: float = 0.95, distributed: bool | None = None,
    partial_specs=None, rows=None,
) -> DataFrame:
    """(group, trimmed_mean, tm_lo, tm_hi, rank_err_bound) — approximate
    TRIMMED MEAN per group from a single quantile state (KLL or t-digest):
    the mean of the values whose rank falls in the (lo, hi] quantile
    window, the robust data-card aggregate ("mean quality score excluding
    the top/bottom 5%") that a plain AVG lets outliers own.

    The exact route is a per-group SORT of the corpus (rank every row,
    then average the kept band) — this serves the same statistic from
    already-registered KB states with zero corpus work, by averaging the
    sketch's own weighted coreset over the window (boundary items
    prorated).

    Bracket: the window mean is monotone in BOTH boundaries (moving
    either boundary right swaps smaller mass for larger values), and the
    sketch's uniform rank guarantee places each true boundary within ±ε
    of the requested one, so the corner windows (lo−ε, hi−ε) and
    (lo+ε, hi+ε) bracket the exact trimmed mean TO FIRST ORDER in ε —
    the residual is the coreset's own value-level error inside a fixed
    window, O(ε·window-spread), second-order for the tail-trimmed windows
    this exists for. (mad_df's bracket is exact because it inverts ranks
    only; a mean mixes values, so its certificate is first-order — stated
    here, verified empirically in the driver gate.) Requires
    hi − lo > 2ε so the inner window cannot vanish."""
    lo, hi = float(lo), float(hi)
    if not (0.0 <= lo < hi <= 1.0):
        raise ValueError(f"need 0 <= lo < hi <= 1, got lo={lo}, hi={hi}")

    def per_state(g, sk):
        # kind check first: a frequency sketch's error_bound() is a count,
        # not a rank fraction — the window check below would misdiagnose it
        v, w = _items_weights(sk)
        eps = float(sk.error_bound())
        if hi - lo <= 2.0 * eps:
            raise ValueError(
                f"trim window ({lo}, {hi}] is narrower than twice the state's "
                f"rank error bound {eps:.4g} — register a larger sketch or widen the window"
            )
        if len(v) == 0:
            return [(g, float("nan"), float("nan"), float("nan"), eps)]
        cum = np.cumsum(np.asarray(w, dtype=np.float64))
        total = float(cum[-1])
        est = _window_mean(v, cum, total, lo, hi)
        b_lo = _window_mean(v, cum, total, max(lo - eps, 0.0), hi - eps)
        b_hi = _window_mean(v, cum, total, lo + eps, min(hi + eps, 1.0))
        return [(g, est, b_lo, b_hi, eps)]

    return _answer(
        spark, states, sketch, distributed, per_state,
        "group string, trimmed_mean double, tm_lo double, tm_hi double, "
        "rank_err_bound double",
        ["group", "trimmed_mean", "tm_lo", "tm_hi", "rank_err_bound"],
        partial_specs=partial_specs, rows=rows,
    )


def spectrum_df(
    spark: SparkSession, states: DataFrame, sketch: str, r: int,
    distributed: bool | None = None, partial_specs=None, rows=None,
) -> DataFrame:
    """(group, component, sq_singular_value, cov_err_bound) — the top-r Gram
    spectrum per group from FrequentDirections states.

    Each row brackets one Gram/covariance eigenvalue EXACTLY:
    λ_i(AᵀA) ∈ [sq_singular_value, sq_singular_value + cov_err_bound] —
    the bound is Δ = ‖A‖_F² − ‖B‖_F², a computable certificate, not a
    probabilistic tail (Liberty KDD 2013 / Ghashami et al. 2016). Same
    driver/distributed routing as the other answerers.
    """
    r = int(r)

    def per_state(g, sk):
        sq, delta = sk.spectrum(r)
        return [(g, int(i), float(v), float(delta)) for i, v in enumerate(sq)]

    return _answer(
        spark, states, sketch, distributed, per_state,
        "group string, component int, sq_singular_value double, cov_err_bound double",
        ["group", "component", "sq_singular_value", "cov_err_bound"],
        partial_specs=partial_specs, rows=rows,
    )


def spectrum_drift_df(
    spark: SparkSession, states_a: DataFrame, states_b: DataFrame,
    sketch_a: str, sketch_b: str, r: int = 8,
) -> DataFrame:
    """Per-group embedding-distribution drift between two FrequentDirections
    registrations — the "has the corpus moved since the last drop" question
    answered from two KB state frames, zero corpus scans.

    Per common group: the top-r COVARIANCE eigenvalues of each side
    (Gram/n, so sides of different sizes compare), their relative change,
    each side's certificate Δ/n in the same units, and the top-r principal
    SUBSPACE AFFINITY ‖V_aᵀV_b‖_F²/r ∈ [0, 1] (1 = identical subspaces;
    ~r/d for unrelated ones) — eigenvalues catch variance drift, affinity
    catches rotation drift that leaves variances unchanged. Groups present
    on one side only are emitted with NULL metrics (the operational signal
    that a source appeared or vanished). Driver-side math over ≤
    groups × 2 states; each group costs two ℓ×d SVDs.
    """
    import pandas as pd

    A = {g: sk for (g, s), sk in load_states(states_a).items() if s == sketch_a}
    B = {g: sk for (g, s), sk in load_states(states_b).items() if s == sketch_b}
    if not A or not B:
        raise ValueError(
            f"no fd states named {sketch_a!r}/{sketch_b!r} in the inputs"
        )
    rows = []
    for g in sorted(set(A) | set(B)):
        sa, sb = A.get(g), B.get(g)
        if sa is None or sb is None:
            rows.append((g, None, np.nan, np.nan, np.nan, np.nan, np.nan, np.nan))
            continue
        if sa.d != sb.d:
            raise ValueError(
                f"group {g!r}: fd dimensions differ (d={sa.d} vs {sb.d}) — "
                "the registrations sketch different embedding spaces"
            )
        la, da = sa.spectrum(r)
        lb, db = sb.spectrum(r)
        na, nb = max(sa.n_items, 1), max(sb.n_items, 1)
        va, vb = sa.directions(r), sb.directions(r)
        m = min(len(va), len(vb))
        aff = (
            float(np.linalg.norm(va[:m] @ vb[:m].T, "fro") ** 2 / m)
            if m else np.nan
        )
        for i in range(min(int(r), len(la), len(lb))):
            ea, eb = float(la[i]) / na, float(lb[i]) / nb
            rel = (eb - ea) / ea if ea > 0 else np.nan
            rows.append((g, i, ea, eb, rel, aff, da / na, db / nb))
    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                "group", "component", "cov_eig_a", "cov_eig_b",
                "eig_rel_change", "subspace_affinity", "err_a", "err_b",
            ],
        ).astype({"component": "Int64"})
    )


def freq_delta_topk_df(
    spark: SparkSession, states_a: DataFrame, states_b: DataFrame,
    sketch_a: str, sketch_b: str, k: int = 10,
) -> DataFrame:
    """Per-group heaviest token-FREQUENCY CHANGES between two Count-Min
    registrations — "which tokens' counts moved most between corpus
    snapshots" answered from two KB state frames, zero corpus scans (the
    vocabulary-drift companion to ``spectrum_drift_df``'s embedding drift).

    Count-Min is a LINEAR sketch (Cormode & Muthukrishnan 2005 §4): for
    same-geometry sketches over count vectors a and b, every point query
    satisfies x ≤ x̂ ≤ x + ε·‖x‖₁, so the signed change d = b − a is
    estimated by d̂ = b̂ − â with d̂ − d ∈ [−ε·‖a‖₁, +ε·‖b‖₁], i.e.
    |d̂ − d| ≤ max(ε·Nₐ, ε·N_b) with probability ≥ 1 − 2δ (union bound
    over the two sketches). Candidates are the UNION of both sides'
    heavy-hitter candidate sets, so a token that vanished (heavy in a,
    absent in b) is still ranked — each side's survivors cover its own
    heavy keys, and a large |change| needs the token heavy on at least
    one side (the absolute-change deltoids of Cormode & Muthukrishnan,
    "What's New: Finding Significant Differences in Network Data
    Streams", ToN 2005, solved here from the candidate heaps the repo's
    CM states already carry). Groups present on one side only are
    emitted with NULL metrics — the signal that a source appeared or
    vanished. Driver-side math over ≤ groups × 2 states.

    Returns (group, token, est_a, est_b, delta_est, err_bound) — the k
    largest |delta_est| per group, ties broken by token id (stable).
    """
    A = {g: sk for (g, s), sk in load_states(states_a).items() if s == sketch_a}
    B = {g: sk for (g, s), sk in load_states(states_b).items() if s == sketch_b}
    if not A or not B:
        raise ValueError(f"no cm states named {sketch_a!r}/{sketch_b!r} in the inputs")
    rows = []
    for g in sorted(set(A) | set(B)):
        sa, sb = A.get(g), B.get(g)
        if sa is None or sb is None:
            rows.append((g, None, None, None, None, np.nan))
            continue
        if (sa.w, sa.d, sa.seed) != (sb.w, sb.d, sb.seed):
            raise ValueError(
                f"group {g!r}: CountMin geometry/seed mismatch "
                f"((w,d,seed)=({sa.w},{sa.d},{sa.seed}) vs ({sb.w},{sb.d},{sb.seed})) — "
                "point queries of different hash families do not subtract"
            )
        cands = np.union1d(sa.cands, sb.cands)
        if cands.size == 0:
            continue
        ea, eb = sa.query(cands), sb.query(cands)
        delta = eb - ea
        bound = float(max(sa.error_bound(), sb.error_bound()))
        order = np.lexsort((cands, -np.abs(delta)))[: int(k)]
        rows.extend(
            (g, int(cands[i]), int(ea[i]), int(eb[i]), int(delta[i]), bound)
            for i in order
        )
    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["group", "token", "est_a", "est_b", "delta_est", "err_bound"],
        ).astype({"token": "Int64", "est_a": "Int64", "est_b": "Int64", "delta_est": "Int64"})
    )


_DRIFT_QS = (0.5, 0.9, 0.99)


def corpus_drift_df(
    spark: SparkSession, states_a: DataFrame, states_b: DataFrame, r: int = 8,
) -> DataFrame:
    """One-stop corpus drift report between two state-table snapshots —
    "what changed since the last drop", answered entirely from KB sketch
    states, zero corpus scans. Every sketch NAME present in both frames
    contributes the drift metrics its kind supports, as a long frame
    (group, sketch, metric, value_a, value_b, rel_change, bound):

    - hll / kmv → ``distinct``: per-side estimates; bound = rse_a + rse_b
      (the first-order bound on the REL CHANGE of the ratio).
    - cm / mg → ``mass``: per-side total update counts — EXACT (bound 0);
      the per-token movers live in ``freq_delta_topk_df``, not here.
    - kll / tdigest → ``p50/p90/p99``: per-side quantile VALUES; bound =
      the sides' summed RANK-error bounds (rank units — a value-unit
      band needs the density, which a rank sketch does not carry).
      dd → same metrics with bound = summed RELATIVE-value error α.
    - minhash → ``jaccard``: similarity of the two snapshots' hashed
      SETS (value_a = value_b = Ĵ, rel_change NULL); bound = the
      estimator SE √(J(1−J)/r). The "how much is even shared" metric.
    - fd → ``subspace_affinity`` (top-r, bound NULL) and ``cov_eig_i``
      rows with per-side Δ/n certificates summed as bound — the same
      math as ``spectrum_drift_df``, folded into the one report.

    Groups present on one side only emit a single ``one_sided`` row with
    NULL values — the source-appeared/vanished signal. Driver-side math
    over ≤ groups × sketches × 2 states (the report use case; for 10⁶-
    group state tables use the per-kind answerers, which route
    distributed)."""
    A: dict = {}
    B: dict = {}
    for (g, name), sk in load_states(states_a).items():
        A[(g, name)] = sk
    for (g, name), sk in load_states(states_b).items():
        B[(g, name)] = sk
    names = {n for _, n in A} & {n for _, n in B}
    if not names:
        raise ValueError("no sketch names present in BOTH state frames")
    groups = {g for g, n in A if n in names} | {g for g, n in B if n in names}
    rows = []

    def emit(g, name, metric, va, vb, bound):
        rel = (
            (vb - va) / va
            if va is not None and vb is not None and va not in (0, 0.0)
            else None
        )
        rows.append((g, name, metric, va, vb, rel, bound))

    for g in sorted(groups):
        for name in sorted(names):
            sa, sb = A.get((g, name)), B.get((g, name))
            if sa is None or sb is None:
                rows.append((g, name, "one_sided", None, None, None, None))
                continue
            kind, kind_b = type(sa).kind, type(sb).kind
            if kind != kind_b:
                # a re-registered name with a different spec would otherwise
                # crash deep in the metric math (AttributeError / numpy shape
                # error) or, worse, silently sum bounds of different sketches
                raise ValueError(
                    f"sketch {name!r} group {g!r}: kind mismatch between "
                    f"snapshots ({kind} vs {kind_b}) — rebuild both sides "
                    "from the same spec before diffing"
                )
            if kind == "fd" and (sa.d, sa.ell) != (sb.d, sb.ell):
                raise ValueError(
                    f"sketch {name!r} group {g!r}: fd geometry mismatch "
                    f"(d={sa.d}, ell={sa.ell}) vs (d={sb.d}, ell={sb.ell})"
                )
            if kind in ("hll", "kmv"):
                ea, ra = sa.estimate()
                eb, rb = sb.estimate()
                emit(g, name, "distinct", float(ea), float(eb), float(ra + rb))
            elif kind in ("cm", "mg"):
                # both track total update mass exactly; MG's per-token
                # movers need freq_delta_topk_df's CM linearity, but the
                # snapshot mass diff is the same exact metric
                emit(g, name, "mass", float(sa.total), float(sb.total), 0.0)
            elif kind in ("kll", "tdigest", "dd"):
                qa = sa.quantiles(np.array(_DRIFT_QS))
                qb = sb.quantiles(np.array(_DRIFT_QS))
                bound = float(sa.error_bound() + sb.error_bound())
                for q, va, vb in zip(_DRIFT_QS, qa.tolist(), qb.tolist()):
                    emit(g, name, f"p{q * 100:g}", float(va), float(vb), bound)
            elif kind == "minhash":
                j, se = sa.jaccard(sb)
                rows.append((g, name, "jaccard", float(j), float(j), None, float(se)))
            elif kind == "fd":
                la, da = sa.spectrum(r)
                lb, db = sb.spectrum(r)
                na, nb = max(sa.n_items, 1), max(sb.n_items, 1)
                va_d, vb_d = sa.directions(r), sb.directions(r)
                m = min(len(va_d), len(vb_d))
                if m:
                    aff = float(np.linalg.norm(va_d[:m] @ vb_d[:m].T, "fro") ** 2 / m)
                    rows.append((g, name, "subspace_affinity", aff, aff, None, None))
                for i in range(min(int(r), len(la), len(lb))):
                    emit(
                        g, name, f"cov_eig_{i}",
                        float(la[i]) / na, float(lb[i]) / nb,
                        float(da / na + db / nb),
                    )
            # bloom and other kinds: no scalar drift metric — skipped
    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["group", "sketch", "metric", "value_a", "value_b",
                     "rel_change", "bound"],
        )
    )


def membership_df(
    spark: SparkSession, states: DataFrame, sketch: str, keys,
    distributed: bool | None = None, partial_specs=None, rows=None,
) -> DataFrame:
    """(group, key, may_contain, fpr_bound) Bloom membership per group (Q5).

    ``may_contain = False`` is exact (zero false negatives); True is a maybe
    with the reported false-positive bound. Same routing as estimates_df:
    above the group threshold the probe runs executor-side (keys ride along
    in the task closure — a probe batch is KBs).
    """
    keys = np.asarray(keys)
    integral = keys.dtype.kind in ("i", "u")
    hashed = keys if integral else hash_any(keys).astype(np.int64)
    keys_list = keys.tolist()

    def per_state(g, sk):
        hits = sk.contains(hashed)
        fpr = float(sk.fpr_bound())
        return [
            # emit the key in its native type — int() on a string key raised
            (g, int(kv) if integral else str(kv), bool(hit), fpr)
            for kv, hit in zip(keys_list, hits.tolist())
        ]

    ktype = "long" if integral else "string"
    return _answer(
        spark, states, sketch, distributed, per_state,
        f"group string, key {ktype}, may_contain boolean, fpr_bound double",
        ["group", "key", "may_contain", "fpr_bound"],
        partial_specs=partial_specs, rows=rows,
    )


def _token_prune(exploded: DataFrame, tokens: list) -> DataFrame:
    """Keep only rows whose ``token`` is in ``tokens`` — as a pushed-down
    ``isin`` when the list is small, as a broadcast semi-join membership
    above ``ann._MAX_IN_LITERALS`` (shared gate; VERDICT r5 "what's wrong"
    #1): Catalyst's planning cost on a 10⁴⁺-literal In() was measured at
    multiple seconds per statement, the same pathology ann.py gated — a
    G·k·overfetch candidate union can cross that line at 10⁴ groups."""
    from sketchlib.spark.ann import _MAX_IN_LITERALS

    if len(tokens) <= _MAX_IN_LITERALS:
        return exploded.filter(F.col("token").isin(list(tokens)))
    spark = exploded.sparkSession
    tok_df = spark.createDataFrame(
        [(int(t),) for t in sorted(set(tokens))], "token long"
    )
    return exploded.join(F.broadcast(tok_df), "token", "leftsemi")


def exact_rescore_topk(
    df: DataFrame,
    states: DataFrame,
    sketch: str,
    k: int,
    tokens_col: str = "tokens",
    group_by: str = "source",
    overfetch: int = 3,
    distributed: bool | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Hybrid sketch→exact top-k: CM candidates prune the token domain, one
    filtered exact pass rescores them (the Verdict move — approximate to find
    WHERE to look, exact on the tiny remainder).

    Takes overfetch·k candidates per group from the CM states (CM never
    undercounts, so any true top-k member whose count exceeds the (k·c)-th
    estimate survives), then computes exact counts ONLY for candidate tokens
    — the explode+filter scan aggregates a few hundred keys instead of the
    full vocab. Output: (group, token, exact_count), exact top-k per group.

    ``weight_col``: the WEIGHTED variant (pair with a weighted-CM state set,
    SketchSpec(weight=...)): ``tokens_col`` is then a SCALAR key column, the
    exact pass re-scores candidates by SUM(weight_col) instead of COUNT, and
    the output column is ``exact_sum`` — hybrid top-k BY SUM (b50's check).

    Routing (same threshold as estimates_df): the driver path collects the
    union of all groups' candidates into one pushed-down ``isin`` filter;
    above the group threshold candidates are extracted executor-side and
    pruning is a PER-GROUP (group, token) semi-join, which both avoids the
    driver collect and stops one group's candidates from surviving the
    filter in every other group's rows.
    """
    from pyspark.sql.window import Window

    out_name = "exact_sum" if weight_col else "exact_count"
    agg_expr = (
        F.sum("_w").cast("long").alias(out_name)
        if weight_col
        else F.count("*").alias(out_name)
    )

    def _pairs(frame):
        if weight_col:  # scalar key column — same contract as the weighted build
            return frame.select(
                F.col(group_by).alias("group"),
                F.col(tokens_col).alias("token"),
                F.col(weight_col).alias("_w"),
            )
        return frame.select(
            F.col(group_by).alias("group"), F.explode(tokens_col).alias("token")
        )

    probe, sub, persisted = _route(states, sketch, distributed)
    if probe is None:
        def rows(g, sk):
            ids, _ = sk.topk(k * overfetch)
            return [(g, int(i)) for i in ids.tolist()]

        cand = _map_states(sub, rows, "group string, token long", ["group", "token"])
        cand = _finish_dist(cand, sub, persisted)
        exploded = _pairs(df)
        # the per-group semi-join matches Catalyst's cast-to-string against
        # the kernel's Python str() — the two agree ONLY for string/integer
        # group columns ('true' vs 'True' for booleans, '1.0E20' vs '1e+20'
        # for doubles, formatting for timestamps). Outside the safe set the
        # per-group prune would silently semi-join to zero rows, so fall
        # back to a token-only isin prune: the candidate-token union is
        # vocab-bounded (≤ G·k·overfetch distinct values collapse hard —
        # hot tokens repeat across groups), and grouping below stays on the
        # NATIVE column, so correctness never depends on stringification.
        safe = ("string", "int", "bigint", "smallint", "tinyint")
        if dict(df.dtypes).get(group_by) in safe:
            counts = exploded.join(
                cand.withColumnRenamed("group", "_cg").withColumnRenamed("token", "_ct"),
                (exploded["group"].cast("string") == F.col("_cg"))
                & (exploded["token"] == F.col("_ct")),
                "leftsemi",
            )
        else:
            cand_tokens = [r["token"] for r in cand.select("token").distinct().collect()]
            counts = _token_prune(exploded, cand_tokens)
        counts = counts.groupBy("group", "token").agg(agg_expr)
    else:
        cand: dict[str, list[int]] = {}
        for (g, name), sk in sorted(_rows_to_states(probe).items()):
            ids, _ = sk.topk(k * overfetch)
            cand[g] = [int(i) for i in ids.tolist()]
        all_cands = sorted({t for ts in cand.values() for t in ts})
        exploded = _pairs(df)
        counts = _token_prune(exploded, all_cands).groupBy("group", "token").agg(agg_expr)
    w = Window.partitionBy("group").orderBy(F.desc(out_name), F.asc("token"))
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def union_estimate(states: DataFrame, sketch: str, groups=None) -> tuple[float, float]:
    """Distinct-count estimate for the UNION of groups (SURVEY.md A17 —
    sketch-level union IS merge, the whole point of mergeable sketches):
    merge the selected groups' HLL states, estimate once. Exactly equals the
    sketch of the concatenated data (register-wise max is set-union)."""
    picked = [
        sk
        for (g, name), sk in sorted(load_states(states).items())
        if name == sketch and (groups is None or g in set(groups))
    ]
    if not picked:
        raise ValueError(f"no states for sketch {sketch!r} in groups {groups!r}")
    acc = picked[0]
    for sk in picked[1:]:
        acc = acc.merge(sk)
    return acc.estimate()


def intersection_estimate(
    states: DataFrame, hll_sketch: str, minhash_sketch: str, group_a: str, group_b: str
) -> tuple[float, float]:
    """|A ∩ B| from sketches alone: J·|A ∪ B|, with J from MinHash and the
    union cardinality from merged HLLs. More robust than HLL inclusion-
    exclusion when the intersection is small relative to the sets (I-E
    subtracts two large noisy numbers; this multiplies two estimates whose
    relative errors add). Returns (estimate, relative error bound ≈
    rse_union + se_J/J)."""
    st = load_states(states)
    u = st[(group_a, hll_sketch)].merge(st[(group_b, hll_sketch)])
    union_est, rse = u.estimate()
    j, se = st[(group_a, minhash_sketch)].jaccard(st[(group_b, minhash_sketch)])
    est = j * union_est
    rel_bound = rse + (se / j if j > 0 else float("inf"))
    return est, rel_bound


def _intersection_abs_from_loaded(st, hll_sketch, minhash_sketch, group_a, group_b):
    """(|A ∩ B| estimate, ABSOLUTE bound, |A| estimate, |A| rse) from an
    already-loaded state dict — |A| is captured BEFORE the register merge
    mutates A's sketch, so difference_estimate gets everything in one load
    (one driver collect) instead of re-collecting the state table."""
    a = st[(group_a, hll_sketch)]
    a_est, a_rse = a.estimate()
    j, se = st[(group_a, minhash_sketch)].jaccard(st[(group_b, minhash_sketch)])
    union_est, rse = a.merge(st[(group_b, hll_sketch)]).estimate()
    est = j * union_est
    return est, est * rse + union_est * se, a_est, a_rse


def intersection_abs_estimate(
    states: DataFrame, hll_sketch: str, minhash_sketch: str, group_a: str, group_b: str
) -> tuple[float, float]:
    """intersection_estimate with an ABSOLUTE bound: est·rse_∪ + |A ∪ B|·se_J
    — algebraically identical to rel·est for J > 0, but finite as J → 0
    (the relative form is rse + se/J, which is inf at J = 0 and turns
    err = inf·0.0 into NaN for disjoint sides)."""
    est, err, _, _ = _intersection_abs_from_loaded(
        load_states(states), hll_sketch, minhash_sketch, group_a, group_b
    )
    return est, err


def difference_estimate(
    states: DataFrame, hll_sketch: str, minhash_sketch: str, group_a: str, group_b: str
) -> tuple[float, float]:
    """|A \\ B| from sketches alone: |A| − |A ∩ B| (intersection via
    J·|A ∪ B|, see intersection_abs_estimate); bound = sum of the parts'
    bounds in absolute terms — finite even for disjoint sides (J = 0)."""
    inter, inter_err, a_est, a_rse = _intersection_abs_from_loaded(
        load_states(states), hll_sketch, minhash_sketch, group_a, group_b
    )
    est = max(0.0, a_est - inter)
    return est, a_rse * a_est + inter_err


def _setop_group_row(op: str, sks: dict, tags, hll: str, mh: str | None):
    """One group's set-operation answer from its per-side sketches —
    (estimate, ABSOLUTE err) or None when the exact operation would emit no
    row for this group (see grouped_setop_df's presence semantics)."""
    if op == "union":
        acc = None
        for t in tags:
            sk = sks.get((t, hll))
            if sk is not None:
                acc = sk if acc is None else acc.merge(sk)
        if acc is None:
            return None
        est, rse = acc.estimate()
        return float(est), float(rse * est)
    a, b = sks.get((tags[0], hll)), sks.get((tags[1], hll))
    if op == "intersect":
        if a is None or b is None:
            return None
        j, se = sks[(tags[0], mh)].jaccard(sks[(tags[1], mh)])
        if j <= 0:
            return None  # exact per-group presence: empty intersection → no row
        union_est, rse = a.merge(b).estimate()
        est = j * union_est
        # absolute form of intersection_estimate's rel bound (rse + se/J):
        # est·rse + |A∪B|·se — finite even as J → 0
        return float(est), float(est * rse + union_est * se)
    # except: groups only the LEFT side holds pass through with |A_g| alone
    if a is None:
        return None
    a_est, a_rse = a.estimate()
    if b is None:
        return float(a_est), float(a_rse * a_est)
    j, se = sks[(tags[0], mh)].jaccard(sks[(tags[1], mh)])
    union_est, rse = a.merge(b).estimate()
    inter = j * union_est
    inter_err = inter * rse + union_est * se
    return float(max(0.0, a_est - inter)), float(a_rse * a_est + inter_err)


def grouped_setop_df(
    spark: SparkSession,
    states: DataFrame,
    op: str,
    hll_sketch: str,
    minhash_sketch: str | None,
    tags: list[str],
    distributed: bool | None = None,
) -> DataFrame:
    """(group, estimate, err_bound) per group for a GROUPED set operation
    (union/intersect/except), answered from per-(side × group) states alone.

    The build keyed its sketches by the composite (side, group) string, so
    each group's answer merges at most len(tags) × len(sketches) KB-sized
    state rows. ``err_bound`` is ABSOLUTE. Presence semantics mirror the
    exact operation's per-group row production: UNION emits every group any
    side holds; INTERSECT emits only groups both sides hold with a nonzero
    MinHash intersection (an exact engine emits no row for a group whose
    intersection is empty — sketch resolution caps how small a nonzero
    intersection this can detect); EXCEPT emits exactly the left side's
    groups. Routing mirrors estimates_df: driver-side at source-level group
    counts (rows here carry ≤ tags×sketches states per group, so the probe
    cap scales by that factor), groupBy(group).applyInPandas above the
    threshold — that shuffle moves only KB state rows, never data rows."""
    from sketchlib.spark.build import GROUP_SEP

    need = [hll_sketch] + ([minhash_sketch] if minhash_sketch else [])
    sub = states.filter(F.col("sketch").isin(need))
    per_group = max(1, len(tags) * len(need))
    schema = "group string, estimate double, err_bound double"
    cols = ["group", "estimate", "err_bound"]

    def finish(rows) -> DataFrame:
        per_g: dict[str, dict] = {}
        for r in rows:
            side, _, g = r["group"].partition(GROUP_SEP)
            per_g.setdefault(g, {})[(side, r["sketch"])] = deserialize(bytes(r["state"]))
        out = []
        for g in sorted(per_g):
            row = _setop_group_row(op, per_g[g], tags, hll_sketch, minhash_sketch)
            if row is not None:
                out.append((g, *row))
        return local_frame(spark, out, schema, nan_as_null=True)

    rows = None
    if distributed is False:
        rows = _pull_rows(sub.select("group", "sketch", "state"))
    elif distributed is None:
        probe = _pull_rows(
            sub.select("group", "sketch", "state"), _PROBE_ROWS * per_group + 1
        )
        if len(probe) <= _PROBE_ROWS * per_group:
            rows = probe
        else:
            sub = sub.persist()
            if sub.count() <= _DISTRIBUTED_THRESHOLD * per_group:
                rows = _pull_rows(sub.select("group", "sketch", "state"))
                sub.unpersist()
    if rows is not None:
        return finish(rows)

    key = F.split(F.col("group"), GROUP_SEP, 2)
    d = sub.select(
        key.getItem(0).alias("_side"), key.getItem(1).alias("_g"), "sketch", "state"
    )

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        sks = {
            (s, name): deserialize(bytes(st))
            for s, name, st in zip(pdf["_side"], pdf["sketch"], pdf["state"])
        }
        row = _setop_group_row(op, sks, tags, hll_sketch, minhash_sketch)
        if row is None:
            return pd.DataFrame(columns=cols)
        return pd.DataFrame([(pdf["_g"].iloc[0], *row)], columns=cols)

    out = d.groupBy("_g").applyInPandas(apply, schema).localCheckpoint()
    sub.unpersist()
    return out


def jaccard_df(spark: SparkSession, states: DataFrame, sketch: str) -> DataFrame:
    """(group_a, group_b, jaccard_est, se_bound) for all group pairs (MinHash).

    Deliberately driver-side with no distributed twin: ALL-PAIRS similarity
    is only meaningful at source-level group counts (pairs grow as G²); for
    high-cardinality near-dup detection use the LSH paths in spark/dedup.py,
    which never enumerate pairs."""
    sigs = {g: sk for (g, name), sk in sorted(load_states(states).items()) if name == sketch}
    groups = sorted(sigs)
    out = []
    for i, a in enumerate(groups):
        for b in groups[i + 1 :]:
            j, se = sigs[a].jaccard(sigs[b])
            out.append((a, b, float(j), float(se)))
    # explicit schema: a single-group state table must yield an EMPTY
    # frame, not a CANNOT_INFER_EMPTY_SCHEMA crash
    return local_frame(
        spark, out, "group_a string, group_b string, jaccard_est double, se_bound double"
    )


def join_size_estimate(
    states_a: DataFrame,
    states_b: DataFrame,
    sketch_a: str,
    sketch_b: str | None = None,
    group_a: str = "",
    group_b: str = "",
) -> tuple[float, float]:
    """Equi-join cardinality |A ⋈ B on k| from two CM states alone
    (SURVEY.md B3 extended; Cormode & Muthukrishnan 2005 §4.2).

    ``states_a``/``states_b`` are merged-states DataFrames (build_sketches
    output or SketchCatalog.states) holding a ``cm`` sketch built over each
    side's JOIN KEY column; the two builds must share (eps, delta, seed) so
    the hash family maps keys to the same columns — a mismatch raises, it
    cannot silently mis-estimate. Returns ``(estimate, abs_bound)``:
    never undercounts the true join size, overshoots ≤ abs_bound
    (= ε·|A|·|B|) with probability ≥ 1 − δ.

    This is the planner's what-would-this-join-cost primitive: the answer
    comes from two KB-sized state rows, so it stays corpus-size-independent
    (Verdict's headline property) — price a 10¹²-row join before running it.
    ``group_a``/``group_b`` select grouped registrations ("" = ungrouped
    build); pass the same DataFrame twice for a self-join estimate.
    """
    return _join_size_from_loaded(
        load_states(states_a), load_states(states_b), sketch_a, sketch_b, group_a, group_b
    )


def _join_size_from_loaded(
    sa: dict, sb: dict, sketch_a: str, sketch_b: str | None = None,
    group_a: str = "", group_b: str = "",
) -> tuple[float, float]:
    """join_size_estimate over already-loaded {(group, sketch): state}
    dicts — e.g. from ``SketchCatalog.state_rows``, without a Spark job."""
    sketch_b = sketch_b or sketch_a
    try:
        cm_a = sa[(group_a, sketch_a)]
    except KeyError:
        raise ValueError(
            f"no state for sketch {sketch_a!r} group {group_a!r} on side A "
            f"(have {sorted(sa)})"
        )
    try:
        cm_b = sb[(group_b, sketch_b)]
    except KeyError:
        raise ValueError(
            f"no state for sketch {sketch_b!r} group {group_b!r} on side B "
            f"(have {sorted(sb)})"
        )
    for name, sk in ((sketch_a, cm_a), (sketch_b, cm_b)):
        if getattr(sk, "kind", None) != "cm":
            raise ValueError(
                f"join_size_estimate needs Count-Min states; {name!r} is kind "
                f"{getattr(sk, 'kind', type(sk).__name__)!r}"
            )
    return cm_a.inner_product(cm_b)


def join_size_df(
    spark: SparkSession,
    states_a: DataFrame,
    states_b: DataFrame,
    sketch_a: str,
    sketch_b: str | None = None,
) -> DataFrame:
    """(group, join_rows_est, join_rows_err) — PER-GROUP equi-join sizes
    from grouped CM states: for every group value present in BOTH sides'
    registrations, the CM inner product of that group's pair (see
    join_size_estimate for the bound). Answers "how much does each
    source / date-partition contribute to the join" from KB states.

    Callers name the state sets explicitly, so mind the units: a CM built
    with SketchSpec(weight=...) holds SUM(w) cells, making the inner
    product a WEIGHT-weighted join size (Σ_k SUMw_a(k)·n_b(k) — e.g.
    "total tokens flowing through the join" when w is a token count), not
    a row count. Mixing a weighted side with an unweighted one is only
    meaningful if that is the quantity you want; the SQL door's
    APPROX_JOIN_ROWS never resolves weighted registrations.

    Pass the SAME states/sketch twice for the per-group SECOND FREQUENCY
    MOMENT F₂ = Σ_k c_k² (the self-join size): the standard key-skew /
    repetition report — F₂/N is the average key multiplicity, and a group
    whose F₂ explodes is the group whose join or dedup stage will too.
    Driver-side over the G state rows (G = group count, the Verdict-typical
    source-level case; states are KBs each)."""
    sketch_b = sketch_b or sketch_a
    sa = {g: sk for (g, name), sk in sorted(load_states(states_a).items()) if name == sketch_a}
    self_pair = states_b is states_a and sketch_b == sketch_a
    sb = sa if self_pair else {
        g: sk for (g, name), sk in sorted(load_states(states_b).items()) if name == sketch_b
    }
    if not sa or not sb:
        raise ValueError(
            f"no states for sketch {sketch_a!r}/{sketch_b!r} in one of the sides"
        )
    for name, side in ((sketch_a, sa), (sketch_b, sb)):
        for sk in side.values():
            if getattr(sk, "kind", None) != "cm":
                raise ValueError(
                    f"join_size_df needs Count-Min states; {name!r} is kind "
                    f"{getattr(sk, 'kind', type(sk).__name__)!r}"
                )
    out = []
    for g in sorted(set(sa) & set(sb)):
        est, err = sa[g].inner_product(sb[g])
        out.append((g, float(est), float(err)))
    # explicit schema: disjoint group sets must yield an EMPTY frame, not a
    # CANNOT_INFER_EMPTY_SCHEMA crash
    return local_frame(
        spark, out, "group string, join_rows_est double, join_rows_err double"
    )

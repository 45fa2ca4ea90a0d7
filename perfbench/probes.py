"""In-process probes for the traced run.

Spans recorded around Spark actions cannot see inside the Python workers,
where the update kernels, hashing and sketch serde run. These probes time
those layers directly in the benchmark process, on fixed inputs:

- kernel: ``SketchAccumulator.consume_batch`` over the first row group of
  every file of ``source=*/part-c0000.parquet`` (one core, no Spark), for all
  sketches together and for each sketch kind alone;
- hashing: ``hash_ints`` over the token ids of the same batches;
- sketches: serialized size, deserialize, merge and estimate per kind, on the
  catalog's persisted states;
- query and sql: ``load_states``, the answer functions and ``explain_sql`` on
  the catalog.

Each figure is the median of repeated timings.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

KINDS = ("hll", "cm", "kll", "tdigest", "bloom")


def _median_time(fn, min_reps: int = 3, min_total: float = 0.2) -> float:
    """Median seconds per call of ``fn`` over at least ``min_reps`` calls
    and ``min_total`` seconds."""
    times: list[float] = []
    while len(times) < min_reps or sum(times) < min_total:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def probe_batches(table_dir: str):
    """[(source, RecordBatch)] — the first row group of each source's first file."""
    out = []
    for f in sorted(glob.glob(os.path.join(table_dir, "source=*", "part-c0000.parquet"))):
        src = os.path.basename(os.path.dirname(f)).split("=", 1)[1]
        pf = pq.ParquetFile(f)
        for b in pf.iter_batches(batch_size=1 << 20, row_groups=[0], columns=["doc_id", "tokens", "n_tok"]):
            out.append((src, b))
    return out


def kernel_probe(table_dir: str, specs) -> dict[str, float]:
    from sketchlib.hashing import hash_ints
    from sketchlib.spark.build import SketchAccumulator

    batches = probe_batches(table_dir)
    n_tok = sum(len(b.column("tokens").values) for _, b in batches)

    def consume(spec_list):
        acc = SketchAccumulator(spec_list, "source")
        for src, b in batches:
            acc.consume_batch(b, const_group=src)

    out = {"build.kernel_tokens_per_s": n_tok / _median_time(lambda: consume(specs))}
    for kind in KINDS:
        sub = [s for s in specs if s.kind == kind]
        out[f"build.kernel_tokens_per_s.{kind}"] = n_tok / _median_time(lambda sub=sub: consume(sub))
    flat = [b.column("tokens").values.to_numpy() for _, b in batches]
    out["hashing.hash_ints_per_s"] = n_tok / _median_time(lambda: [hash_ints(a) for a in flat])
    return out


def sketch_probe(states_dir: str) -> dict[str, float]:
    """Per kind: total persisted state bytes, and per-state deserialize,
    two-state merge and estimate times in microseconds."""
    from sketchlib.sketches import deserialize

    probe_keys = np.arange(1000, dtype=np.int64)
    estimate = {
        "hll": lambda sk: sk.estimate(),
        "cm": lambda sk: sk.topk(10),
        "kll": lambda sk: sk.quantiles([0.5, 0.9, 0.99]),
        "tdigest": lambda sk: sk.quantiles([0.5, 0.9, 0.99]),
        "bloom": lambda sk: sk.contains(probe_keys),
    }
    rows = pq.read_table(states_dir, columns=["sketch", "kind", "state"]).to_pylist()
    out: dict[str, float] = {}
    for kind in KINDS:
        mine = [r for r in rows if r["kind"] == kind]
        out[f"sketches.{kind}.state_bytes"] = float(sum(len(r["state"]) for r in mine))
        # the two largest states of one sketch name (the two biggest groups)
        first = mine[0]["sketch"]
        a, b = sorted((r["state"] for r in mine if r["sketch"] == first), key=len)[-2:]
        other = deserialize(b)
        merges = []
        for _ in range(7):
            sk = deserialize(a)
            t0 = time.perf_counter()
            sk.merge(other)
            merges.append(time.perf_counter() - t0)
        sk = deserialize(a)
        out[f"sketches.{kind}.deserialize_us"] = 1e6 * _median_time(lambda: deserialize(a), 7, 0.02)
        out[f"sketches.{kind}.merge_us"] = 1e6 * statistics.median(merges)
        out[f"sketches.{kind}.estimate_us"] = 1e6 * _median_time(lambda: estimate[kind](sk), 7, 0.02)
    return out


def query_probe(spark, catalog, name: str, statements, tables) -> dict[str, float]:
    from sketchlib.spark import query
    from sketchlib.sql import explain_sql

    states = catalog.states(name)
    out = {"query.load_states_ms": 1e3 * _median_time(lambda: query.load_states(states))}
    answers = [
        lambda: query.estimates_df(spark, states, "hll_doc").collect(),
        lambda: query.topk_df(spark, states, "cm_tok", 10).collect(),
        lambda: query.quantiles_df(spark, states, "kll_ntok", [0.5, 0.9, 0.99]).collect(),
    ]
    out["query.answer_ms"] = 1e3 * statistics.median(_median_time(fn) for fn in answers)
    out["sql.route_ms"] = 1e3 * statistics.median(
        _median_time(lambda s=s: explain_sql(spark, s.sql, tables, catalog, s.key).collect())
        for s in statements
    )
    return out

"""Chunk-based checkpoint / resume / lineage (SURVEY.md B10).

Work unit = a (file, row-group range) chunk from the pyarrow-direct scan
plan (scan.py), NOT a Spark scan partition: chunk identity is a pure function
of the input files, so resume keys are stable across runs, Spark versions,
and split-heuristic changes — the determinism caveat of partition-id
checkpointing is gone.

Layout under ``ckpt_dir``::

    _run.json                      run manifest: chunk plan hash, specs, group_by
    states/<chunk_key>.parquet     committed partial states of one chunk
    lineage/<chunk_key>.json       rows, tokens, wall_ms, file, row groups
    tmp/...                        in-progress writes (ignored)

Commit protocol: a chunk is committed iff its states parquet exists; files
appear only via atomic ``os.replace`` from ``tmp/``, so task retries are
idempotent (kernels are deterministic functions of the chunk's rows, and a
re-run replaces the file with identical content).

Resume: committed chunks are excluded from the work plan BEFORE the job runs
— their input is never opened, let alone scanned. The final merge always
reads the checkpoint directory, so clean and crash+resume runs merge exactly
the same state files in the same canonical (chunk_id) order → byte-identical
results, including order-sensitive KLL/t-digest (FIXTURES.md F4).

On a real cluster ``ckpt_dir`` must be reachable from executors (shared FS /
object store); in local mode any directory works.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from sketchlib.spark.build import (
    STATE_FIELDS,
    _ARROW_STATE_SCHEMA,
    SketchAccumulator,
    SketchSpec,
    merge_states,
)
from sketchlib.spark.scan import Chunk, _read_chunk_batches, chunks_df, plan_chunks

_FAIL_ENV = "SKETCHLIB_FAIL_PARTS"  # test hook: comma-separated chunk ids to crash


from sketchlib.spark.scan import chunk_key as _key_of


def committed_parts(ckpt_dir: str) -> set[str]:
    """Chunk keys with committed state files."""
    sdir = os.path.join(ckpt_dir, "states")
    if not os.path.isdir(sdir):
        return set()
    return {f[:-8] for f in os.listdir(sdir) if f.endswith(".parquet")}


def _await_any_commit(ckpt_dir: str, timeout_s: float = 30.0) -> None:
    """Test hook: hold an injected chunk failure until some chunk of the
    run has committed (bounded wait), so the crash lands MID-build. Raised
    at once, it races the other tasks' start-up: a failing task that starts
    first aborts the job before anything commits."""
    deadline = time.monotonic() + timeout_s
    while not committed_parts(ckpt_dir) and time.monotonic() < deadline:
        time.sleep(0.05)


def _ckpt_reader(specs: list[SketchSpec], group_by, ckpt_dir: str, fail: frozenset[int]):
    from sketchlib.spark.build import group_cols, spec_cols

    need = sorted(spec_cols(specs) | group_cols(group_by))

    def reader(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for row in b.to_pylist():
                cid = row["chunk_id"]
                if cid in fail:
                    _await_any_commit(ckpt_dir)
                    raise RuntimeError(f"injected failure in chunk {cid}")
                t0 = time.perf_counter()
                pvals = dict(row["part_vals"] or {})
                # hive const-group applies to single-column grouping only
                const = pvals.get(group_by) if isinstance(group_by, str) else None
                acc = SketchAccumulator(specs, group_by)
                for batch in _read_chunk_batches(row["file"], row["rg_lo"], row["rg_hi"], need):
                    acc.consume_batch(batch, const_group=const)
                out = acc.emit(cid)
                table = (
                    pa.Table.from_batches([out])
                    if out is not None
                    else pa.Table.from_batches([], schema=_ARROW_STATE_SCHEMA)
                )
                key = _key_of(row["file"], row["rg_lo"], row["rg_hi"])
                for d in ("tmp", "states", "lineage"):
                    os.makedirs(os.path.join(ckpt_dir, d), exist_ok=True)
                lineage = {
                    "chunk_id": cid,
                    "key": key,
                    "file": row["file"],
                    "rg_lo": row["rg_lo"],
                    "rg_hi": row["rg_hi"],
                    "rows": sum(acc.rows_per_group.values()),
                    "tokens": sum(acc.toks_per_group.values()),
                    "n_states": table.num_rows,
                    "wall_ms": (time.perf_counter() - t0) * 1000.0,
                }
                tmp_state = os.path.join(ckpt_dir, "tmp", key + ".parquet")
                pq.write_table(table, tmp_state)
                with open(os.path.join(ckpt_dir, "tmp", key + ".json"), "w") as fh:
                    json.dump(lineage, fh)
                os.replace(
                    os.path.join(ckpt_dir, "tmp", key + ".json"),
                    os.path.join(ckpt_dir, "lineage", key + ".json"),
                )
                os.replace(tmp_state, os.path.join(ckpt_dir, "states", key + ".parquet"))
        return
        yield  # pragma: no cover — generator marker

    return reader


def build_with_checkpoint(
    spark: SparkSession,
    input_dir: str,
    specs: list[SketchSpec],
    ckpt_dir: str,
    group_by: str | None = "source",
    fanout: int | None = None,
    target_bytes: int = 32 << 20,
) -> DataFrame:
    """Checkpointed build over a parquet directory; returns merged states.

    Re-invoking after a failure resumes: committed chunks are dropped from
    the plan (their files are never opened) and the merge re-reads ALL
    committed state files — the result is identical to an uninterrupted run.
    ``target_bytes`` is larger than the non-checkpointed default because each
    chunk persists its own states (state volume ∝ chunks × groups).
    """
    chunks = plan_chunks(input_dir, target_bytes=target_bytes)

    os.makedirs(ckpt_dir, exist_ok=True)
    run_meta = {
        "chunks": [[c.key, c.chunk_id] for c in chunks],
        "group_by": group_by,
        "specs": [
            {"name": s.name, "kind": s.kind, "column": s.column, "params": s.params,
             "weight": s.weight}
            for s in specs
        ],
    }
    run_path = os.path.join(ckpt_dir, "_run.json")
    if os.path.exists(run_path):
        with open(run_path) as fh:
            prev = json.load(fh)
        if prev != run_meta:
            raise ValueError(
                f"checkpoint dir {ckpt_dir} was created by a different job/configuration; "
                "resume requires the identical input chunk plan and specs"
            )
    else:
        with open(run_path, "w") as fh:
            json.dump(run_meta, fh)

    done = committed_parts(ckpt_dir)
    todo = [c for c in chunks if c.key not in done]
    if todo:
        fail = frozenset(
            int(x) for x in os.environ.get(_FAIL_ENV, "").split(",") if x
        )  # captured DRIVER-side: executor workers never see driver env mutations
        cores = spark.sparkContext.defaultParallelism
        cdf = chunks_df(spark, todo, n_tasks=min(len(todo), cores))
        fn = _ckpt_reader(specs, group_by, ckpt_dir, fail)
        cdf.mapInArrow(fn, STATE_FIELDS).write.format("noop").mode("overwrite").save()

    states = spark.read.schema(STATE_FIELDS).parquet(os.path.join(ckpt_dir, "states"))
    return merge_states(states, fanout=fanout)


def lineage_df(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Lineage table: one row per chunk with rows/tokens/wall_ms/source file."""
    ldir = os.path.join(ckpt_dir, "lineage")
    recs = []
    for f in sorted(os.listdir(ldir)):
        if f.endswith(".json"):
            with open(os.path.join(ldir, f)) as fh:
                recs.append(json.load(fh))
    return spark.createDataFrame(
        [
            (r["chunk_id"], r["key"], r["file"], r["rg_lo"], r["rg_hi"], r["rows"], r["tokens"], r["wall_ms"], r["n_states"])
            for r in recs
        ],
        "chunk_id int, key string, file string, rg_lo int, rg_hi int, rows long, tokens long, wall_ms double, n_states int",
    )


def throughput_metrics(spark: SparkSession, ckpt_dir: str) -> dict:
    """Aggregate sketch-update throughput from lineage (BASELINE metric)."""
    pdf = lineage_df(spark, ckpt_dir).toPandas()
    total_ms = float(pdf["wall_ms"].sum())
    secs = total_ms / 1000.0
    return {
        "chunks": int(len(pdf)),
        "rows": int(pdf["rows"].sum()),
        "tokens": int(pdf["tokens"].sum()),  # 0 when no array column was sketched
        "cpu_seconds": secs,
        "tokens_per_cpu_sec": (float(pdf["tokens"].sum()) / secs) if secs else 0.0,
        "rows_per_cpu_sec": (float(pdf["rows"].sum()) / secs) if secs else 0.0,
    }

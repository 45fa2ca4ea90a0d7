"""Pyarrow-direct parquet scan for sketch builds (the 100 TB fast path).

Why this exists (measured, see BENCH/BASELINE.md): Spark's JVM parquet scan
is essentially free (0.2 s for the 123 M-token benchmark table), but shipping
``array<int32>`` rows across the JVM→Python Arrow boundary costs ~11 s/core —
50× the scan itself — because Spark re-encodes row-by-row into Arrow for
Python UDF transport. For a Python-kernel engine that overhead IS the job.

So the build fast path inverts the flow: the driver plans (file, row-group
range) work units from parquet metadata, Spark distributes those TINY rows,
and each task reads its row groups directly with pyarrow's C++ reader —
column-pruned at the parquet layer, zero JVM re-encode, zero row shipping.
Spark still provides distribution, retries, and the state-merge shuffle; the
DataFrame declarative surface remains for everything relational.

This mirrors how Iceberg/petastorm-style Python pipelines scan at scale: the
table's file manifest is the partition index. Hive-style ``key=value`` path
components are parsed into partition values (our tables partition by
``source``), so a chunk whose group value is constant skips per-row grouping
entirely. Paths work on any filesystem pyarrow can open (local, HDFS via
pyarrow.fs, s3://) — executors must see the same paths as the driver.

Chunk = unit of work AND of checkpoint/lineage: keyed by (file, rg_lo, rg_hi),
stable across runs — unlike Spark scan-partition ids, which depend on split
heuristics. States are accumulated per TASK (many chunks), so state-shuffle
volume is O(tasks × groups), not O(chunks × groups); checkpointed builds
accumulate per chunk-group (see checkpoint.py).
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from sketchlib.spark.build import (
    STATE_FIELDS,
    SketchAccumulator,
    SketchSpec,
    merge_states,
)

CHUNK_FIELDS = "chunk_id int, file string, rg_lo int, rg_hi int, part_vals map<string,string>"
# CHUNK_FIELDS as Arrow hands them to a chunk reader
_CHUNK_ARROW = pa.schema([
    ("chunk_id", pa.int32()), ("file", pa.string()), ("rg_lo", pa.int32()),
    ("rg_hi", pa.int32()), ("part_vals", pa.map_(pa.string(), pa.string())),
])


def chunk_key(file: str, rg_lo: int, rg_hi: int) -> str:
    """Stable checkpoint/lineage key. Basenames repeat across hive partition
    dirs (source=*/part-c0000.parquet), so disambiguate with a path hash."""
    import hashlib

    h = hashlib.sha1(file.encode()).hexdigest()[:8]
    return f"{os.path.basename(file)}.{h}.rg{rg_lo}-{rg_hi}"


@dataclass(frozen=True)
class Chunk:
    chunk_id: int
    file: str
    rg_lo: int
    rg_hi: int
    part_vals: dict
    n_bytes: int = 0

    @property
    def key(self) -> str:
        return chunk_key(self.file, self.rg_lo, self.rg_hi)


def _hive_values(root: str, path: str) -> dict:
    vals = {}
    for comp in os.path.relpath(path, root).split(os.sep)[:-1]:
        if "=" in comp:
            k, v = comp.split("=", 1)
            vals[k] = v
    return vals


def list_files(input_dir: str) -> list[str]:
    """The parquet files a plan of ``input_dir`` covers, sorted — a glob,
    no footer read. Raises when there are none."""
    if os.path.isfile(input_dir):
        files = [input_dir]
    else:
        files = sorted(glob.glob(os.path.join(input_dir, "**", "*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet files under {input_dir}")
    return files


def plan_chunks(input_dir: str, target_bytes: int = 8 << 20) -> list[Chunk]:
    """Split every parquet file into row-group ranges of ~target_bytes.

    Planning reads only parquet footers (driver-side; at real scale this list
    comes from the table manifest instead). Deterministic: files sorted.
    """
    return plan_files(input_dir, list_files(input_dir), target_bytes)


def plan_files(input_dir: str, files: list[str], target_bytes: int = 8 << 20) -> list[Chunk]:
    """``plan_chunks`` over just ``files`` (sorted, under ``input_dir``):
    one footer read per file, chunk ids numbered from 0 in plan order —
    the whole dir's chunks of those files, renumbered. A file without row
    groups gets no chunk."""
    chunks: list[Chunk] = []
    for f in files:
        md = pq.read_metadata(f)
        pvals = _hive_values(input_dir, f)
        lo, acc = 0, 0
        for rg in range(md.num_row_groups):
            acc += md.row_group(rg).total_byte_size
            if acc >= target_bytes:
                chunks.append(Chunk(len(chunks), f, lo, rg + 1, pvals, acc))
                lo, acc = rg + 1, 0
        if lo < md.num_row_groups:
            chunks.append(Chunk(len(chunks), f, lo, md.num_row_groups, pvals, acc))
    return chunks


def _lpt_bins(chunks: list[Chunk], n_tasks: int) -> list[list[Chunk]]:
    """Greedy longest-processing-time-first bin packing on chunk byte size:
    near-optimal per-task load (makespan ≤ 4/3 · OPT). Deterministic: ties
    broken by bin index / chunk_id."""
    n_tasks = max(1, min(n_tasks, len(chunks)))
    loads = [0] * n_tasks
    bins: list[list[Chunk]] = [[] for _ in range(n_tasks)]
    for c in sorted(chunks, key=lambda c: (-c.n_bytes, c.chunk_id)):
        i = min(range(n_tasks), key=lambda j: (loads[j], j))
        loads[i] += c.n_bytes
        bins[i].append(c)
    return bins


def chunks_df(spark: SparkSession, chunks: list[Chunk], n_tasks: int) -> DataFrame:
    """Chunk specs placed into (at most) n_tasks partitions, LPT-balanced
    (_lpt_bins). One element per ``parallelize`` slice pins each bin to its
    own partition — hash repartition cannot do that (bin collisions would
    double a task's load while idling another).

    A group-PURE variant (each task reading one hive group only, to floor
    the partial-state merge volume) was implemented and interleave-measured
    this round: even with minimax task allocation it cost 4–14% of build
    wall at the 1.23 B-token scale (group quantization makespan 90 vs 84 MB
    per task) while the merge saving did not show above it — plain LPT kept
    (OPTIMIZATION_r06.md, "binning experiment")."""
    rows_by_bin = _bin_rows(chunks, n_tasks)
    rdd = spark.sparkContext.parallelize(rows_by_bin, len(rows_by_bin)).flatMap(lambda b: b)
    return spark.createDataFrame(rdd, CHUNK_FIELDS)


def _bin_rows(chunks: list[Chunk], n_tasks: int) -> list[list[tuple]]:
    """Chunk-spec rows (CHUNK_FIELDS) of each non-empty ``_lpt_bins`` bin,
    in the order its task reads them — the one layout chunks_df
    distributes and ``_driver_partials`` replays."""
    return [
        [(c.chunk_id, c.file, c.rg_lo, c.rg_hi, c.part_vals) for c in b]
        for b in _lpt_bins(chunks, n_tasks)
        if b
    ]


def _read_chunk_batches(
    file: str, rg_lo: int, rg_hi: int, columns: list[str]
) -> Iterator[pa.RecordBatch]:
    pf = pq.ParquetFile(file)
    names = set(pf.schema_arrow.names)
    cols = [c for c in columns if c in names]
    # 32k rows ≈ 80 MB of typical token arrays per batch: measured ~10% faster
    # than 8k (fewer batch boundaries) while staying far under worker memory
    yield from pf.iter_batches(
        batch_size=32768, row_groups=list(range(rg_lo, rg_hi)), columns=cols
    )


def _make_chunk_reader(specs: list[SketchSpec], group_by: str | None, per_chunk: bool = False):
    """mapInArrow fn over chunk-spec rows: read row groups via pyarrow, sketch.

    ``per_chunk=False``: one accumulator per task (state volume O(tasks)).
    ``per_chunk=True``: emit per chunk with part_id=chunk_id (stable lineage).
    """
    from sketchlib.spark.build import _install_plugins, _plugin_snapshot, group_cols, spec_cols

    need = sorted(spec_cols(specs) | group_cols(group_by))
    snap = _plugin_snapshot({s.kind for s in specs})

    def reader(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark.taskcontext import TaskContext

        _install_plugins(snap)
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        acc = None if per_chunk else SketchAccumulator(specs, group_by)
        min_chunk = None
        for b in batches:
            for row in b.to_pylist():
                pv = row["part_vals"] or {}
                pvals = dict(pv)  # arrow MapType surfaces as a list of (k, v) pairs
                # hive-partition const-group shortcut applies to single-column
                # grouping only; composite keys read their columns from rows
                const = pvals.get(group_by) if isinstance(group_by, str) else None
                if per_chunk:
                    acc = SketchAccumulator(specs, group_by)
                if min_chunk is None or row["chunk_id"] < min_chunk:
                    min_chunk = row["chunk_id"]
                for batch in _read_chunk_batches(row["file"], row["rg_lo"], row["rg_hi"], need):
                    acc.consume_batch(batch, const_group=const)
                if per_chunk:
                    out = acc.emit(row["chunk_id"])
                    if out is not None:
                        yield out
        if not per_chunk and acc is not None:
            out = acc.emit(min_chunk if min_chunk is not None else pid)
            if out is not None:
                yield out

    return reader


def _chunk_partials(
    spark: SparkSession,
    chunks: list[Chunk],
    specs: list[SketchSpec],
    group_by: str | None,
    n_tasks: int,
    per_chunk: bool = False,
) -> DataFrame:
    """Partial states of planned ``chunks``: one Spark task per chunks_df bin."""
    cdf = chunks_df(spark, chunks, n_tasks)
    return cdf.mapInArrow(_make_chunk_reader(specs, group_by, per_chunk), STATE_FIELDS)


def _driver_partials(
    chunks: list[Chunk], specs: list[SketchSpec], group_by: str | None, n_tasks: int
) -> list[dict]:
    """The state rows ``_chunk_partials`` emits, sketched in THIS process
    without a Spark job: each bin goes through the same chunk reader, fed
    its rows in the same order, with the same part_id (the bin's least
    chunk_id) — so the state bytes are identical. The bins are sketched
    concurrently, on one thread each, and their rows come back in bin
    order (``collect()``'s partition order). For deltas small enough that
    a job's fixed cost dwarfs the sketching (catalog refresh)."""
    from concurrent.futures import ThreadPoolExecutor

    reader = _make_chunk_reader(specs, group_by)

    def sketch(rows: list[tuple]) -> list[dict]:
        batch = pa.RecordBatch.from_pylist(
            [dict(zip(_CHUNK_ARROW.names, r)) for r in rows], schema=_CHUNK_ARROW
        )
        return [r for states in reader(iter([batch])) for r in states.to_pylist()]

    bins = _bin_rows(chunks, n_tasks)
    # one thread per bin, as the job would run one task per bin: pyarrow's
    # reads and the numpy kernels release the GIL. Each bin owns its
    # accumulator; map() hands the rows back in bin order and re-raises a
    # bin's error
    with ThreadPoolExecutor(max_workers=max(len(bins), 1)) as pool:
        return [r for rows in pool.map(sketch, bins) for r in rows]


def partial_states_from_parquet(
    spark: SparkSession,
    input_dir: str,
    specs: list[SketchSpec],
    group_by: str | None = "source",
    n_tasks: int | None = None,
    target_bytes: int = 8 << 20,
    per_chunk: bool = False,
    chunks: list[Chunk] | None = None,
) -> DataFrame:
    """``chunks``: an already planned list (``plan_chunks``) to sketch
    instead of planning ``input_dir`` again — e.g. the plan a catalog
    registration records as its lineage."""
    if chunks is None:
        chunks = plan_chunks(input_dir, target_bytes=target_bytes)
    cores = spark.sparkContext.defaultParallelism
    # one wave of tasks: more waves only multiply per-task state emission
    # (CM states are ~1 MB each) without improving balance — chunks are
    # modulo-spread across tasks, which evens out size variance
    n_tasks = n_tasks or min(len(chunks), cores)
    return _chunk_partials(spark, chunks, specs, group_by, n_tasks, per_chunk)


def build_sketches_from_parquet(
    spark: SparkSession,
    input_dir: str,
    specs: list[SketchSpec],
    group_by: str | None = "source",
    fanout: int | None = None,
    n_tasks: int | None = None,
    target_bytes: int = 8 << 20,
    chunks: list[Chunk] | None = None,
) -> DataFrame:
    """Fast-path build: pyarrow-direct scan + the standard tiny state merge."""
    partial = partial_states_from_parquet(
        spark, input_dir, specs, group_by, n_tasks=n_tasks, target_bytes=target_bytes, chunks=chunks
    )
    return merge_states(partial, fanout=fanout)

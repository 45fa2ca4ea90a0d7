"""Sketch-state catalog — Verdict's sample lifecycle, re-expressed (SURVEY.md
A2 `CREATE SAMPLE`, A3 `SHOW/DROP SAMPLES`, A5 approx scan).

Verdict persists derived sample tables plus metadata in a `verdict`-owned
schema; the analog here is a directory of persisted state tables plus a
`_sketch_catalog` parquet table mapping (name) → (source table, group_by,
specs, build stats). Queries then hit the states (KBs) instead of the corpus
— the A5 "scan the sample instead of the base table" move.

Layout under ``root``::

    _sketch_catalog/            one parquet row per registered sketch set
    states/<name>/              merged state table (STATE_FIELDS schema)
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from collections import Counter, OrderedDict

from pyspark.sql import DataFrame, SparkSession

from sketchlib.spark.build import _ARROW_STATE_SCHEMA, STATE_FIELDS, SketchSpec
from sketchlib.spark.query import ddl_arrow_schema, local_frame
from sketchlib.spark.scan import build_sketches_from_parquet

_CATALOG_SCHEMA = (
    "name string, input_dir string, group_by string, specs_json string, "
    "n_states long, rows long, tokens long, built_unix double, files_json string"
)


# a cached state row: a tuple in STATE_FIELDS order
_STATE_COLS = tuple(_ARROW_STATE_SCHEMA.names)
_STATE_IDX = _STATE_COLS.index("state")


def _dir_num_rows(d: str) -> int:
    """Total rows of a local parquet dir from footers alone (no Spark job)."""
    import glob as _glob

    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(f).num_rows
        for f in _glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
    )

_SAMPLE_SCHEMA = (
    "name string, input_dir string, kind string, ratio double, on_col string, "
    "seed long, rows_sampled long, built_unix double, fractions_json string, "
    "files_json string"
)

_ANN_SCHEMA = (
    "name string, input_dir string, kind string, vec_col string, id_col string, "
    "n_bits int, seed long, n_lists int, centroids_json string, rows long, built_unix double, "
    "files_json string"
)

_SIG_SCHEMA = (
    "name string, input_dir string, tokens_col string, id_col string, "
    "r int, n_bands int, seed long, rows long, built_unix double, files_json string"
)


class SketchCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # driver-side cache of what the catalog reads back from disk — the
        # registry logs' rows, each state set's rows, each persisted
        # sample/index/signature table's schema — keyed by the dir's file
        # LISTING fingerprint (_listing_cached): every register, drop,
        # refresh or append changes a listing — by this instance, another
        # instance, or another process — and so invalidates the entry.
        # Repeat routing/meta lookups and catalog-served statements then
        # cost a scandir instead of a Spark job or a parquet read.
        # rel_dir -> (fingerprint, value, held state bytes), LRU order.
        self._cache: OrderedDict = OrderedDict()
        self._cache_lock = threading.Lock()
        # registry dir -> {log file's (name, size, mtime_ns, inode): its
        # parsed rows} — a log lookup after an append parses only the
        # appended file (_log_rows)
        self._log_files: dict = {}
        os.makedirs(os.path.join(root, "_sketch_catalog"), exist_ok=True)
        os.makedirs(os.path.join(root, "states"), exist_ok=True)
        os.makedirs(os.path.join(root, "_sample_catalog"), exist_ok=True)
        os.makedirs(os.path.join(root, "samples"), exist_ok=True)
        os.makedirs(os.path.join(root, "_ann_catalog"), exist_ok=True)
        os.makedirs(os.path.join(root, "ann"), exist_ok=True)
        os.makedirs(os.path.join(root, "_sig_catalog"), exist_ok=True)
        os.makedirs(os.path.join(root, "signatures"), exist_ok=True)

    def _append_registry_row(self, registry: str, ddl: str, row: tuple) -> None:
        """Append ONE registration row to a registry log driver-side
        (pyarrow write — no Spark job for a ≤12-field row; measured ~0.2 s
        of per-registration fixed cost). Unique filename keyed on
        (time_ns, pid) keeps concurrent appenders from colliding; the
        append changes the dir listing, which invalidates the cached rows."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = ddl_arrow_schema(ddl)
        table = pa.Table.from_pylist(
            [dict(zip([f.name for f in schema], row))], schema=schema
        )
        out = os.path.join(
            self.root, registry,
            f"part-local-{time.time_ns()}-{os.getpid()}.parquet",
        )
        pq.write_table(table, out)

    @staticmethod
    def _states_stats(t) -> tuple[int, int, int]:
        """(n_state_rows, sum(rows), sum(tokens)) of a state table."""
        import pyarrow.compute as pc

        return (
            t.num_rows,
            int(pc.sum(t["rows"]).as_py() or 0),
            int(pc.sum(t["tokens"]).as_py() or 0),
        )

    @classmethod
    def _states_stats_local(cls, sdir: str) -> tuple[int, int, int]:
        """``_states_stats`` of a persisted state table, read driver-side
        with pyarrow — the table is KB-to-MB scale (one row per group ×
        sketch), so a Spark aggregate job is pure overhead."""
        import pyarrow.parquet as pq

        return cls._states_stats(pq.read_table(sdir, columns=["rows", "tokens"]))

    # --- A2: CREATE SAMPLE analog -----------------------------------------
    def create(
        self,
        name: str,
        input_dir: str,
        specs: list[SketchSpec],
        group_by: str | None = "source",
        overwrite: bool = False,
    ) -> DataFrame:
        """Build, persist, and register a sketch set; returns the state table."""
        if self.exists(name):
            if not overwrite:
                raise ValueError(f"sketch set {name!r} already exists (use overwrite=True)")
            self.drop(name)
        # plan the file list ONCE and build exactly those files, so the
        # registered lineage matches what the states cover even if files
        # land in input_dir mid-build (refresh() picks them up later)
        from sketchlib.spark.scan import plan_chunks

        files = sorted({c.file for c in plan_chunks(input_dir)})
        states = build_sketches_from_parquet(
            self.spark, input_dir, specs, group_by=group_by, files=files
        )
        # record the sketched columns' INPUT types (schema inference runs
        # one Spark job — measured ≈0.1 s warm, ≈2 s as a session's first
        # job): set-operation answers merge sketches ACROSS registrations,
        # and the kernel hashes int/float/string values differently — the
        # resolver must be able to refuse a cross-type merge (silently
        # wrong counts)
        try:
            schema = self.spark.read.parquet(input_dir).schema
            dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
        except Exception:
            dtypes = None
        return self._persist_set(
            name, states, specs, group_by, input_dir, json.dumps(files), dtypes
        )

    def _persist_set(
        self, name: str, states: DataFrame, specs, group_by, input_dir: str,
        files_json, dtypes: dict | None = None,
    ) -> DataFrame:
        """Shared persist-and-register tail for sketch sets (create /
        register_states): snapshot to states/<name>; stats and the
        registration row are driver-side pyarrow reads/writes (no Spark jobs)."""
        sdir = os.path.join(self.root, "states", name)
        states.write.mode("overwrite").parquet(sdir)
        persisted = self.spark.read.schema(STATE_FIELDS).parquet(sdir)
        # stats from the just-written KB/MB-scale state table, driver-side —
        # the old Spark agg job re-read it for three scalars
        n_rows, r_sum, t_sum = self._states_stats_local(sdir)
        canon_group = (
            ",".join(group_by) if isinstance(group_by, (list, tuple)) else (group_by or "")
        )
        n_specs = max(len(specs), 1)
        self._append_registry_row(
            "_sketch_catalog", _CATALOG_SCHEMA,
            (
                name,
                input_dir,
                canon_group,
                json.dumps(
                    [
                        {
                            "name": s.name, "kind": s.kind, "column": s.column,
                            "params": s.params, "weight": s.weight,
                            # input types (None when unknowable, e.g. stream
                            # states): lets cross-registration merges refuse
                            # hash-incompatible columns instead of silently
                            # comparing unrelated hashes
                            "dtype": (dtypes or {}).get(s.column),
                            "group_dtype": (dtypes or {}).get(canon_group) if canon_group else None,
                        }
                        for s in specs
                    ]
                ),
                n_rows,
                r_sum // n_specs,
                t_sum // n_specs,
                time.time(),
                files_json,
            )
        )
        return persisted

    def register_states(
        self,
        name: str,
        states: DataFrame,
        specs: list[SketchSpec],
        group_by: str | list[str] | None = "source",
        input_dir: str = "",
        overwrite: bool = False,
    ) -> DataFrame:
        """Register EXTERNALLY BUILT states — e.g. a StreamingSketchSink's
        current table — as a queryable sketch set: snapshot into the
        catalog with a registration row, so ``approx_sql`` answers from
        states a STREAM maintains (Verdict-over-streams; the reference is
        batch-only). The snapshot is immutable while the stream advances;
        re-register (overwrite=True) to publish a fresher one. No file
        lineage is recorded (streams have none), so ``refresh()`` on such a
        set raises — re-registration IS its refresh."""
        if self.exists(name):
            if not overwrite:
                raise ValueError(f"sketch set {name!r} already exists (use overwrite=True)")
            self.drop(name)
        # files_json None: no lineage for externally built states —
        # refresh() refuses and points back at re-registration. When a real
        # input_dir is given, record the sketched columns' types like
        # create() does, with the same one-job schema inference
        # (cross-registration merges refuse unknown dtypes);
        # stream registrations without one stay typeless and simply never
        # serve cross-table merge routes.
        dtypes = None
        if input_dir:
            try:
                schema = self.spark.read.parquet(input_dir).schema
                dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
            except Exception:
                dtypes = None
        return self._persist_set(name, states, specs, group_by, input_dir, None, dtypes)

    _LOCAL_REFRESH_BYTES = 256 << 20
    # a delta whose chunks total at most one scan chunk (plan_chunks'
    # target_bytes) is sketched on the driver: at that size a Spark job's
    # fixed cost is many times the sketching inside it
    _DRIVER_DELTA_BYTES = 8 << 20

    def _local_refresh_merge(self, sdir: str, delta, specs, group_by, reg, n_tasks: int):
        """Driver-local refresh merge, or None to use the Spark pipeline.

        A refresh moves KB/MB-scale state rows through a full Exchange +
        applyInPandas stage + a Spark write just to fold a handful of delta
        partials into the persisted table — ~4 fixed job costs for work the
        driver does in milliseconds. When the ESTIMATED volume (persisted
        table size + delta-task count × groups × per-spec state size, all
        known driver-side) fits the byte budget, get the delta partials —
        sketched on the driver (no job) when the ``delta`` chunks total at
        most ``_DRIVER_DELTA_BYTES``, else collected from the kernel job —
        take the old rows from the state cache (``_states_cached``; a
        miss reads the table with pyarrow), and merge in exactly
        ``_merge_pdf``'s canonical (part_id, state bytes) order.
        Both ways of getting the partials emit the same rows, so the
        states are byte-identical to the pipeline path (old rows carry
        part_id=-1, so they sort first either way). Cluster-scale state
        tables overflow the estimate and keep the distributed merge."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sketchlib.sketches import deserialize
        from sketchlib.spark.scan import _chunk_partials, _driver_partials

        try:
            old_bytes = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(sdir)
                for f in fs
            )
            n_specs = max(len(specs), 1)
            n_groups = max(int(reg["n_states"]) // n_specs, 1)
            per_set = sum(s.make().max_state_bytes() for s in specs)
            est = old_bytes + n_tasks * n_groups * per_set
        except Exception:
            return None
        if est > self._LOCAL_REFRESH_BYTES:
            return None

        if sum(c.n_bytes for c in delta) <= self._DRIVER_DELTA_BYTES:
            delta_rows = _driver_partials(delta, specs, group_by, n_tasks)
        else:
            delta_rows = [
                {**r.asDict(), "state": bytes(r["state"])}
                for r in _chunk_partials(self.spark, delta, specs, group_by, n_tasks).collect()
            ]
        cached = self._states_cached(reg["name"])
        old_rows = (
            [dict(zip(_STATE_COLS, r)) for r in cached[2]] if cached is not None
            else pq.read_table(sdir).to_pylist()
        )
        by_key: dict = {}
        for r in old_rows + delta_rows:
            by_key.setdefault((r["group"], r["sketch"]), []).append(r)
        out = []
        for (g, name_), rs in sorted(by_key.items()):
            rs.sort(key=lambda r: (r["part_id"], r["state"]))
            acc = deserialize(rs[0]["state"])
            for r in rs[1:]:
                acc.merge(deserialize(r["state"]))
            out.append(
                {
                    "group": g,
                    "sketch": name_,
                    "kind": rs[0]["kind"],
                    "state": acc.to_bytes(),
                    "n_items": int(acc.n_items),
                    "part_id": -1,
                    "rows": int(sum(r["rows"] for r in rs)),
                    "tokens": int(sum(r["tokens"] for r in rs)),
                    "wall_ms": float(sum(r["wall_ms"] for r in rs)),
                }
            )
        return pa.Table.from_pylist(out, schema=_ARROW_STATE_SCHEMA)

    def refresh(self, name: str) -> dict:
        """Incremental maintenance on APPEND — Verdict keeps its scrambles
        fresh as base tables grow; mergeable sketches make the analog
        cheap: sketch ONLY the parquet files added to the input dir since
        the last build/refresh and merge their partial states into the
        persisted state table. At 100 TB this is the difference between
        touching the day's append and re-scanning the corpus.

        Routes, by size (``_local_refresh_merge``): a delta of at most one
        scan chunk is sketched on the driver and merged there — no Spark
        job at all; a larger delta is sketched by the kernel job and merged
        on the driver; a state table over the driver budget keeps the
        distributed merge. Every route gives byte-identical states.

        What a refresh reads and writes is the delta's size, not the
        table's: it lists the input dir (a glob) and reads the footers of
        the NEW files only; on the driver routes the old state rows come
        from the state cache when it holds the set's current listing, the
        driver route sketches the delta's bins concurrently (one thread
        per bin), and the merged table it writes seeds the cache — so the
        next catalog-served statement reads no state file. Only the new
        registration row is read back, by the next registry lookup.

        What equals a fresh build: order-free merges give the same state —
        HLL registers and Bloom bits byte for byte, the Count-Min counter
        table and total exactly. Order-sensitive parts differ in bytes
        while keeping their bounds: the Count-Min heavy-hitter candidate
        list is truncated to ``cand_cap`` at every merge, so once a group
        holds more distinct keys than the cap, which ids survive depends
        on the merge order (top-k answers over true heavy hitters agree);
        KLL / t-digest compactions likewise depend on the order.

        Append-only contract: every previously covered file must still
        exist (sketch states cannot subtract) — a covered file gone from
        the input dir raises; rebuild with ``create(overwrite=True)``.
        Returns {new_files, rows_added, tokens_added}."""
        from sketchlib.spark.build import merge_states
        from sketchlib.spark.scan import _chunk_partials

        reg = self._registry_meta("_sketch_catalog", _CATALOG_SCHEMA, name, "sketch set")
        if reg["files_json"] is None:
            raise ValueError(
                f"sketch set {name!r} has no file lineage — if it came from "
                "register_states (e.g. a streaming sink), re-register a fresh "
                "snapshot (that IS its refresh); a file-backed set built "
                "before lineage existed needs one create(overwrite=True)"
            )
        new, current, delta = self._lineage_new_files(
            reg, "sketch state", "rebuild with create(overwrite=True)"
        )
        if not new:
            return {"new_files": 0, "rows_added": 0, "tokens_added": 0}

        specs = [
            SketchSpec(s["name"], s["kind"], s["column"], s["params"],
                       weight=s.get("weight"))
            for s in json.loads(reg["specs_json"])
        ]
        gb = reg["group_by"] or None
        if gb and "," in gb:
            gb = gb.split(",")
        n_tasks = min(len(delta), self.spark.sparkContext.defaultParallelism)
        # prior totals come from the registration row — no extra Spark job
        before_rows, before_tokens = int(reg["rows"]), int(reg["tokens"])
        rel = os.path.join("states", name)
        sdir = os.path.join(self.root, rel)
        tmp, bak = sdir + "._refresh_tmp", sdir + "._refresh_old"
        # a stale backup from a crashed refresh would wedge the rename
        shutil.rmtree(bak, ignore_errors=True)
        local = self._local_refresh_merge(sdir, delta, specs, gb, reg, n_tasks)
        if local is not None:
            import pyarrow.parquet as pq

            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            pq.write_table(local, os.path.join(tmp, "part-00000.parquet"))
            # the renames below keep every entry's name, size, mtime and
            # inode: this is the listing the swapped-in dir will have
            written = self._dir_fingerprint(rel + "._refresh_tmp")
        else:
            newpart = _chunk_partials(self.spark, delta, specs, gb, n_tasks)
            refreshed = merge_states(self.states(name).unionByName(newpart))
            refreshed.write.mode("overwrite").parquet(tmp)
        os.rename(sdir, bak)
        try:
            os.rename(tmp, sdir)
        except OSError:
            # a concurrent reader's crash-restore (_restore_crashed) can
            # rename the backup into place between our two renames; the
            # restored content IS the pre-refresh states, which the tmp
            # table supersedes. Re-establish the sdir-OR-bak invariant
            # FIRST (rename the restored copy back to the backup name —
            # never an unprotected rmtree of the only live copy: a crash
            # right after that rmtree would leave nothing a restore scan
            # recognizes), then finish the swap
            if os.path.isdir(sdir):
                shutil.rmtree(bak, ignore_errors=True)
                os.rename(sdir, bak)
                os.rename(tmp, sdir)
            else:
                raise
        shutil.rmtree(bak, ignore_errors=True)
        if local is not None:
            # seed the cache with what was written, under the listing the
            # write produced: if another writer swapped in its own dir since,
            # the listings differ and the next read misses
            self._cache_put(rel, written, self._state_entry(written, lambda _part: local),
                            self._state_weight)
            n_rows, r_sum, t_sum = self._states_stats(local)
        else:
            # stats driver-side (a KB/MB-scale read, no job)
            n_rows, r_sum, t_sum = self._states_stats_local(sdir)
        n_specs = max(len(specs), 1)
        rows_total = r_sum // n_specs
        tokens_total = t_sum // n_specs
        self._append_registry_row(
            "_sketch_catalog", _CATALOG_SCHEMA,
            (
                name,
                reg["input_dir"],
                reg["group_by"],
                reg["specs_json"],
                n_rows,
                rows_total,
                tokens_total,
                time.time(),
                json.dumps(sorted(current)),
            )
        )
        return {
            "new_files": len(new),
            "rows_added": rows_total - before_rows,
            "tokens_added": tokens_total - before_tokens,
        }


    # --- shared registry machinery (append-only parquet log per registry) ---

    def _lineage_new_files(self, reg, kind_label: str, rebuild_hint: str):
        """(new_files_sorted, current_set, chunks of the new files) from a
        registration row's file lineage — the refresh preamble all four
        registries share: rows registered without lineage refuse refresh,
        and every covered file must still exist (sketch states / samples /
        indexes / signatures cannot subtract). Raises with the registry's
        own rebuild hint. The input dir is listed (no footer read) and only
        the files not in the lineage are planned, so the cost is the
        delta's; a new file without row groups plans to no chunk and is
        neither new nor recorded. The chunks are numbered from 0, as a
        scan of exactly the new files numbers them."""
        from sketchlib.spark.scan import list_files, plan_files

        if reg["files_json"] is None:
            raise ValueError(
                f"{kind_label} {reg['name']!r} has no file lineage — {rebuild_hint}"
            )
        covered = set(json.loads(reg["files_json"]))
        listed = list_files(reg["input_dir"])
        gone = sorted(covered - set(listed))
        if gone:
            raise ValueError(
                f"{len(gone)} covered file(s) no longer in {reg['input_dir']!r} "
                f"(e.g. {gone[0]!r}) — {kind_label}s cannot subtract; {rebuild_hint}"
            )
        chunks = plan_files(reg["input_dir"], [f for f in listed if f not in covered])
        new = sorted({c.file for c in chunks})
        return new, covered | set(new), chunks

    def _restore_crashed(self, live_dir: str) -> None:
        """Restore any '<name>._refresh_old' left by a crash between
        refresh()'s two renames back to '<name>' — run wherever the live
        set is ENUMERATED (listing, auto-selection), not just in exists():
        a wedged set must not silently vanish from SHOW/routing until some
        code path happens to probe it by name."""
        d = os.path.join(self.root, live_dir)
        for entry in os.listdir(d):
            if entry.endswith("._refresh_old"):
                name = entry[: -len("._refresh_old")]
                if not os.path.isdir(os.path.join(d, name)):
                    try:
                        os.rename(os.path.join(d, entry), os.path.join(d, name))
                    except OSError:
                        # lost the race to a refresh() completing its swap
                        # between our isdir check and the rename — the live
                        # dir exists now and the backup is the writer's to
                        # clean up; anything else is a real error
                        if not os.path.isdir(os.path.join(d, name)):
                            raise

    def _registry_live(self, cat_dir: str, schema: str, live_dir: str) -> "DataFrame":
        """Newest registration row per LIVE name: the log is append-only
        (drops leave stale rows, overwrite leaves both registrations), so
        keep only the max-built_unix row per name that still has data on
        disk — shared by all three registries (sketch sets, samples, ANN)."""
        from pyspark.sql import Window, functions as F

        df = self.spark.read.schema(schema).parquet(os.path.join(self.root, cat_dir))
        self._restore_crashed(live_dir)
        live = sorted(
            e for e in os.listdir(os.path.join(self.root, live_dir))
            if not e.endswith("._refresh_old") and not e.endswith("._refresh_tmp")
        )
        # broadcast-join the live names rather than isin(): a 10⁴-entry
        # registry turned the In() literal list into multi-second Catalyst
        # planning per statement (measured 6 s); the join keeps listing and
        # auto-selection sub-second at that scale
        live_df = local_frame(self.spark, [(n,) for n in live], "name string")
        w = Window.partitionBy("name").orderBy(F.desc("built_unix"))
        return (
            df.join(F.broadcast(live_df), "name", "inner")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _dir_fingerprint(self, rel_dir: str):
        """(name, size, mtime_ns, inode) of every direct entry of
        ``rel_dir``, or None when it is gone — the cache key: any registry
        append/drop/refresh creates or removes files here, whoever performs
        it. The inode tells apart a same-named, same-sized file in a
        swapped-in directory (a driver-route refresh always writes
        ``part-00000.parquet``)."""
        p = os.path.join(self.root, rel_dir)
        entries = []
        try:
            with os.scandir(p) as it:
                for e in it:
                    st = e.stat()
                    entries.append((e.name, st.st_size, st.st_mtime_ns, st.st_ino))
        except FileNotFoundError:
            return None
        return tuple(sorted(entries))

    def _listing_cached(self, rel_dir: str, load, weigh=None):
        """``load(fingerprint)`` for ``rel_dir``, served from the cache
        while the dir's listing fingerprint is unchanged. The fingerprint
        is taken again after a miss's load and the value is stored only if
        it still matches, so a refresh or swap landing mid-load is never
        cached under the stale key; a None value is not stored either.
        The cache is seeded by these misses and by a driver-route refresh
        (``_cache_put`` of the state table it wrote, under the listing its
        write produced); any change of the listing — by this instance,
        another one or another process — invalidates an entry.
        ``weigh(value)``: the state bytes the entry holds — the total held
        is kept within ``query._PARTIAL_PROBE_BYTES`` (read per call) by
        evicting the least recently used entries. The load runs outside
        the lock; two threads missing at once both load."""
        fp = self._dir_fingerprint(rel_dir)
        with self._cache_lock:
            hit = self._cache.get(rel_dir)
            if hit is not None and hit[0] == fp:
                self._cache.move_to_end(rel_dir)
                return hit[1]
        value = load(fp)
        keep = fp is not None and self._dir_fingerprint(rel_dir) == fp
        self._cache_put(rel_dir, fp if keep else None, value, weigh)
        return value

    def _cache_put(self, rel_dir: str, fp, value, weigh=None) -> None:
        """Hold ``value`` for ``rel_dir`` under listing ``fp`` — or drop the
        entry when either is None — evicting least recently used weighed
        entries past the byte bound (``_listing_cached``)."""
        from sketchlib.spark.query import _PARTIAL_PROBE_BYTES

        with self._cache_lock:
            self._cache.pop(rel_dir, None)
            if fp is None or value is None:
                return
            self._cache[rel_dir] = (fp, value, weigh(value) if weigh else 0)
            held = sum(e[2] for e in self._cache.values())
            for key in [k for k, e in self._cache.items() if e[2]]:
                if held <= _PARTIAL_PROBE_BYTES:
                    break
                held -= self._cache.pop(key)[2]

    def _log_rows(self, cat_dir: str, schema: str) -> list:
        """ALL registration rows of one registry log, served from the
        listing-keyed cache. The logs are KBs — a handful of rows per
        registered artifact — so holding them driver-side is free. Rows
        are read with pyarrow under the registry's own schema (files
        missing a later-added column read it as NULL, as Spark's
        schema-given read does) and returned as ``Row``s in schema order,
        equal to ``spark.read.schema(schema).parquet(dir).collect()``
        without its Spark job.

        Each log file's parsed rows are kept too, keyed by that file's
        (name, size, mtime_ns, inode): a miss — any append, drop or
        rewrite changes the listing — parses only the files whose key is
        new, so a lookup after an append reads the appended file alone,
        whichever instance or process appended it, and a file rewritten
        under its old name is read again."""
        import pyarrow.dataset as ds
        from pyspark.sql import Row

        pa_schema = ddl_arrow_schema(schema)
        make = Row(*pa_schema.names)

        def load(fp):
            held = self._log_files.get(cat_dir, {})
            parsed = {}
            for e in fp or ():
                if e[0].startswith((".", "_")):
                    continue  # what a dataset read skips: .crc, _SUCCESS
                rows = held.get(e)
                if rows is None:
                    table = ds.dataset(
                        os.path.join(self.root, cat_dir, e[0]), schema=pa_schema,
                        format="parquet",
                    ).to_table()
                    rows = [make(*r.values()) for r in table.to_pylist()]
                parsed[e] = rows
            self._log_files[cat_dir] = parsed
            return [r for rows in parsed.values() for r in rows]

        return self._listing_cached(cat_dir, load)

    def _live_rows(self, cat_dir: str, schema: str, live_dir: str) -> list:
        """Collected _registry_live result (newest registration row per
        LIVE name) computed driver-side from the cached log rows — the
        hot-path twin of _registry_live (equivalence test-locked), used by
        statement routing where the per-call Spark job was the latency."""
        self._restore_crashed(live_dir)
        live = {
            e for e in os.listdir(os.path.join(self.root, live_dir))
            if not e.endswith("._refresh_old") and not e.endswith("._refresh_tmp")
        }
        newest: dict = {}
        for r in self._log_rows(cat_dir, schema):
            if r["name"] not in live:
                continue
            cur = newest.get(r["name"])
            if cur is None or r["built_unix"] > cur["built_unix"]:
                newest[r["name"]] = r
        return sorted(newest.values(), key=lambda r: r["name"])

    def _registry_meta(self, cat_dir: str, schema: str, name: str, kind_label: str):
        rows = [r for r in self._log_rows(cat_dir, schema) if r["name"] == name]
        if not rows:
            raise ValueError(f"unknown {kind_label} {name!r}")
        return max(rows, key=lambda r: r["built_unix"])

    # --- A3: SHOW SAMPLES analog -------------------------------------------
    def list(self) -> DataFrame:
        return self._registry_live("_sketch_catalog", _CATALOG_SCHEMA, "states")

    def list_rows(self) -> list:
        """``list().collect()`` without the per-call Spark job — served
        from the listing-keyed cache; the statement-routing hot path."""
        return self._live_rows("_sketch_catalog", _CATALOG_SCHEMA, "states")

    def list_sample_rows(self) -> list:
        """``list_samples().collect()`` — same cache-served hot path."""
        return self._live_rows("_sample_catalog", _SAMPLE_SCHEMA, "samples")

    def exists(self, name: str) -> bool:
        sdir = os.path.join(self.root, "states", name)
        bak = sdir + "._refresh_old"
        if not os.path.isdir(sdir) and os.path.isdir(bak):
            # crash landed between refresh()'s two renames — restore the
            # pre-refresh states (refresh is then simply re-run)
            os.rename(bak, sdir)
        return os.path.isdir(sdir)

    # --- A5: approx scan — read states instead of the base table ----------
    def state_rows(self, name: str, sketch=None) -> list[dict] | None:
        """A live set's persisted state rows (``group``, ``sketch``,
        ``state`` dicts), read on the driver with pyarrow — no Spark job —
        for the answerers' ``rows=`` argument. ``sketch`` (a name or a
        collection of names) keeps only those sketches' rows.

        The set's rows are cached (``_states_cached``, keyed by the
        ``states/<name>`` listing, so a refresh, drop or re-create by any
        instance or process invalidates them): a repeat call opens no
        state file. A miss seeds the entry, and so does a driver-route
        refresh with the table it wrote — the first call after it opens
        no state file either. The cache holds immutable tuples of every
        ``STATE_FIELDS`` column (the refresh merge reads them all) and
        every call hands out fresh ``(group, sketch, state)`` dicts, which
        callers may relabel in place.

        Returns None when the set is over the query layer's driver budgets,
        so the caller answers from ``states(name)`` on the Spark route
        instead: more than ``_DISTRIBUTED_THRESHOLD`` groups of a wanted
        sketch, or more than ``_PARTIAL_PROBE_BYTES`` of state files on
        disk. Both are checked on every call, a cached one too: the byte
        budget from the listing before any state bytes are read, the group
        budget from the per-sketch row counts kept with the rows."""
        from sketchlib.spark import query

        if not self.exists(name):
            raise ValueError(f"unknown sketch set {name!r}")
        entry = self._states_cached(name)
        if entry is None:
            return None
        _, counts, rows = entry
        want = None
        if sketch is not None:
            want = {sketch} if isinstance(sketch, str) else set(sketch)
        groups = [n for s, n in counts.items() if want is None or s in want]
        if max(groups, default=0) > query._DISTRIBUTED_THRESHOLD:
            return None
        return [
            {"group": r[0], "sketch": r[1], "state": r[_STATE_IDX]}
            for r in rows
            if want is None or r[1] in want
        ]

    @staticmethod
    def _state_weight(entry) -> int:
        return sum(len(r[_STATE_IDX]) for r in entry[2])

    def _state_entry(self, fp, read):
        """The cached value of a state dir whose listing is ``fp``: (bytes
        of its part files, state rows per sketch, every row as a tuple in
        ``STATE_FIELDS`` order, part files in listing order) — or None when
        the dir is gone or its parts exceed ``query._PARTIAL_PROBE_BYTES``.
        ``read(part file name)`` gives a part's table: the file read back,
        or the table a refresh just wrote there."""
        from sketchlib.spark import query

        if fp is None:
            return None
        parts = [e for e in fp if e[0].endswith(".parquet")
                 and not e[0].startswith((".", "_"))]
        disk_bytes = sum(e[1] for e in parts)
        if disk_bytes > query._PARTIAL_PROBE_BYTES:
            return None
        rows = []
        for e in parts:
            t = read(e[0])
            rows.extend(zip(*(
                t.column(c).to_pylist() if c in t.column_names else [None] * t.num_rows
                for c in _STATE_COLS
            )))
        return disk_bytes, Counter(r[1] for r in rows), tuple(rows)

    def _states_cached(self, name: str):
        """``_state_entry`` of ``states/<name>`` from the listing-keyed
        cache (a miss reads the part files and seeds it), or None over the
        byte budget or when a refresh swaps the dir under the read."""
        import pyarrow.parquet as pq

        from sketchlib.spark import query

        rel = os.path.join("states", name)

        def read(part):
            pf = pq.ParquetFile(os.path.join(self.root, rel, part))
            return pf.read(columns=[c for c in _STATE_COLS if c in pf.schema_arrow.names])

        try:
            entry = self._listing_cached(
                rel, lambda fp: self._state_entry(fp, read), weigh=self._state_weight
            )
        except FileNotFoundError:
            return None  # a refresh swapped the directory under this read
        if entry is None or entry[0] > query._PARTIAL_PROBE_BYTES:
            return None
        return entry

    def states(self, name: str) -> DataFrame:
        if not self.exists(name):
            raise ValueError(f"unknown sketch set {name!r}")
        # the schema is fixed: reading with it skips Spark's
        # schema-inference job over the footers
        return self.spark.read.schema(STATE_FIELDS).parquet(
            os.path.join(self.root, "states", name)
        )

    # --- A3: DROP SAMPLE analog --------------------------------------------
    def drop(self, name: str) -> None:
        sdir = os.path.join(self.root, "states", name)
        if os.path.isdir(sdir):
            shutil.rmtree(sdir)

    # --- A2 literal: persisted SAMPLE tables (Verdict scrambles) ------------
    # Sketch states serve the fixed estimator set; a persisted row sample
    # serves ARBITRARY aggregates with HT scale-up — Verdict's actual
    # product. Both live side by side in the catalog.

    def create_sample(
        self,
        name: str,
        input_dir: str,
        kind: str = "uniform",
        ratio: float = 0.1,
        on: str | None = None,
        fractions: dict | None = None,
        seed: int = 42,
        overwrite: bool = False,
    ) -> DataFrame:
        """Persist a uniform (Bernoulli-p rows), universe (hash(on) < p
        domain), or stratified (per-group fractions, ``on`` = group column)
        sample table; queries then scan the fraction instead of the corpus
        (A5). Returns the persisted sample."""
        from sketchlib.spark.sampling import stratified_sample, uniform_sample, universe_sample

        if kind not in ("uniform", "universe", "stratified"):
            raise ValueError(f"unknown sample kind {kind!r} (uniform|universe|stratified)")
        if kind == "universe" and not on:
            raise ValueError("universe samples need on=<key column>")
        if kind == "stratified" and (not on or not fractions):
            raise ValueError("stratified samples need on=<group column> and fractions={group: p}")
        if self.sample_exists(name):
            if not overwrite:
                raise ValueError(f"sample {name!r} already exists (use overwrite=True)")
            self.drop_sample(name)
        # pin the file list so the registered lineage matches exactly what
        # was sampled (refresh_sample covers later appends); basePath keeps
        # hive partition columns when reading an explicit file list
        from sketchlib.spark.scan import plan_chunks

        files = sorted({c.file for c in plan_chunks(input_dir)})
        df = self._read_files(input_dir, files)
        s = self._sample_of(df, kind, ratio, on, fractions, seed)
        sdir = os.path.join(self.root, "samples", name)
        s.write.mode("overwrite").parquet(sdir)
        persisted = self._read_artifact("samples", name)
        self._append_registry_row(
            "_sample_catalog", _SAMPLE_SCHEMA,
            (
                name, input_dir, kind, float(ratio), on or "", seed,
                _dir_num_rows(sdir), time.time(), json.dumps(fractions or {}),
                json.dumps(files),
            ),
        )
        return persisted

    def _read_artifact(self, live_dir: str, name: str) -> DataFrame:
        """A persisted sample/index/signature table as a DataFrame. Spark's
        parquet schema inference launches one job per plain read, so the
        inferred schema is cached under the table dir's listing and a
        repeat read passes it to ``spark.read.schema`` (no job; the same
        schema, partition columns included). Every read lists the files
        afresh, so rows appended since are read."""
        rel = os.path.join(live_dir, name)
        path = os.path.join(self.root, rel)
        schema = self._listing_cached(rel, lambda _fp: self.spark.read.parquet(path).schema)
        return self.spark.read.schema(schema).parquet(path)

    def _read_files(self, input_dir: str, files: list[str]) -> DataFrame:
        """Read an explicit file list; basePath (directories only) keeps
        hive partition columns that live in the path, not the files."""
        reader = self.spark.read
        if os.path.isdir(input_dir):
            reader = reader.option("basePath", input_dir)
        return reader.parquet(*files)

    @staticmethod
    def _sample_of(df, kind: str, ratio: float, on, fractions, seed: int):
        from sketchlib.spark.sampling import stratified_sample, uniform_sample, universe_sample

        if kind == "uniform":
            return uniform_sample(df, ratio, seed)
        if kind == "universe":
            return universe_sample(df, on, ratio, seed)
        return stratified_sample(df, on, fractions, seed)

    def refresh_sample(self, name: str) -> dict:
        """Incremental scramble maintenance on APPEND — Verdict's actual
        sample-maintenance problem: apply the SAME sampling rule (kind,
        ratio/fractions, seed) to only the files added since the last
        build/refresh and append the surviving rows to the persisted sample.
        Exactness: Bernoulli inclusion is per-row independent and the
        universe hash rule is content-keyed, so sampling the append under
        the same rule is distributionally identical to re-sampling the
        grown table. Stratified caveat: strata are limited to the
        registered fractions — a NEW group value appearing only in the
        append is dropped (fraction 0), same as at create time.

        Covered files must still exist (samples can't subtract) — raises
        otherwise. Returns {new_files, rows_added}."""
        if not self.sample_exists(name):
            # append-only registry: a DROPPED sample's stale row must not
            # let refresh resurrect a partial table claiming full lineage
            raise ValueError(
                f"sample {name!r} has no data on disk (dropped or never "
                "created) — create_sample() it before refreshing"
            )
        reg = self._registry_meta("_sample_catalog", _SAMPLE_SCHEMA, name, "sample")
        if reg["files_json"] is None:
            raise ValueError(
                f"sample {name!r} was registered without file lineage — "
                "rebuild once with create_sample(overwrite=True) to enable refresh"
            )
        new, current, _ = self._lineage_new_files(
            reg, "sample", "rebuild with create_sample(overwrite=True)"
        )
        if not new:
            return {"new_files": 0, "rows_added": 0}
        df = self._read_files(reg["input_dir"], new)
        fractions = json.loads(reg["fractions_json"]) or None
        s = self._sample_of(
            df, reg["kind"], reg["ratio"], reg["on_col"] or None, fractions, reg["seed"]
        )
        sdir = os.path.join(self.root, "samples", name)
        s.write.mode("append").parquet(sdir)
        n_total = _dir_num_rows(sdir)  # footer read, no Spark job
        self._append_registry_row(
            "_sample_catalog", _SAMPLE_SCHEMA,
            (
                name, reg["input_dir"], reg["kind"], reg["ratio"], reg["on_col"],
                reg["seed"], n_total, time.time(), reg["fractions_json"],
                json.dumps(sorted(current)),
            ),
        )
        return {"new_files": len(new), "rows_added": n_total - int(reg["rows_sampled"])}

    def sample_exists(self, name: str) -> bool:
        return os.path.isdir(os.path.join(self.root, "samples", name))

    def sample(self, name: str) -> DataFrame:
        if not self.sample_exists(name):
            raise ValueError(f"unknown sample {name!r}")
        return self._read_artifact("samples", name)

    def sample_dtypes(self, name: str) -> dict:
        """``dict(sample(name).dtypes)`` from the Spark schema stored in one
        parquet footer — no DataFrame, no schema-inference job."""
        import glob as _glob

        import pyarrow.parquet as pq
        from pyspark.sql.types import StructType

        files = sorted(_glob.glob(os.path.join(self.root, "samples", name, "**", "*.parquet"),
                                  recursive=True))
        meta = (pq.read_schema(files[0]).metadata or {}) if files else {}
        stored = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
        if stored is None:
            return dict(self.sample(name).dtypes)
        return {f.name: f.dataType.simpleString()
                for f in StructType.fromJson(json.loads(stored)).fields}

    def sample_meta(self, name: str):
        """Newest registration row for a persisted sample."""
        return self._registry_meta("_sample_catalog", _SAMPLE_SCHEMA, name, "sample")

    def list_samples(self) -> DataFrame:
        return self._registry_live("_sample_catalog", _SAMPLE_SCHEMA, "samples")

    def drop_sample(self, name: str) -> None:
        sdir = os.path.join(self.root, "samples", name)
        if os.path.isdir(sdir):
            shutil.rmtree(sdir)

    # --- persisted ANN indexes (VERDICT r2 #3) -------------------------------
    # The base embeddings are scanned exactly ONCE, at index build; every
    # later probe batch is answered from the SELF-CONTAINED index table
    # (id, bucket, vec) with a driver-side bucket IN-filter pushed to the
    # parquet scan. SRP indexes are bucket-sorted within files (row-group
    # pruning, zero build shuffle); IVF indexes are partitionBy(_list)
    # (partition pruning) with the coarse centroids in the registration row.

    def create_ann_index(
        self,
        name: str,
        input_dir: str,
        kind: str = "srp",
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        n_bits: int = 16,
        seed: int = 31,
        n_lists: int = 16,
        sample_frac: float | None = None,
        overwrite: bool = False,
    ) -> DataFrame:
        """Build, persist, and register an ANN index; returns the index table."""
        import json as _json

        from sketchlib.spark.ann import ivf_index, srp_signatures

        if kind not in ("srp", "ivf"):
            raise ValueError(f"unknown ANN index kind {kind!r} (srp|ivf)")
        if self.ann_exists(name):
            if not overwrite:
                raise ValueError(f"ANN index {name!r} already exists (use overwrite=True)")
            self.drop_ann_index(name)
        from sketchlib.spark.scan import plan_chunks

        files = sorted({c.file for c in plan_chunks(input_dir)})
        df = self._read_files(input_dir, files)
        adir = os.path.join(self.root, "ann", name)
        centroids_json = ""
        if kind == "srp":
            # one mapInArrow pass emits (id, bucket, vec) — no join back to
            # the base; bucket-sort within files for row-group pruning
            idx = srp_signatures(df, vec_col, id_col, n_bits=n_bits, seed=seed, with_vec=True)
            idx.sortWithinPartitions("bucket").write.mode("overwrite").parquet(adir)
        else:
            import numpy as np

            assigned, centroids = ivf_index(
                df, vec_col, id_col, n_lists=n_lists, seed=seed, sample_frac=sample_frac
            )
            assigned.select(id_col, vec_col, "_list").write.mode("overwrite").partitionBy(
                "_list"
            ).parquet(adir)
            centroids_json = _json.dumps(np.asarray(centroids).tolist())
        persisted = self._read_artifact("ann", name)
        row = [
            (
                name, input_dir, kind, vec_col, id_col, int(n_bits), int(seed),
                int(n_lists), centroids_json, _dir_num_rows(adir), time.time(),
                json.dumps(files),
            )
        ]
        self._append_registry_row("_ann_catalog", _ANN_SCHEMA, row[0])
        return persisted

    def refresh_ann_index(self, name: str) -> dict:
        """Incremental ANN-index maintenance on APPEND. SRP: signatures are
        content-keyed (same hyperplanes via the registered seed), so
        bucketing only the new rows appends exactly what a full rebuild
        would hold for them. IVF: new vectors go to their NEAREST FROZEN
        centroid (`ivf_assign`) — the registered centroid list defines the
        probe geometry, so assignment (not re-clustering) is the
        contract-preserving refresh; rebuild when drift warrants it.
        Covered files must still exist; returns {new_files, rows_added}."""
        import json as _json

        import numpy as np

        from sketchlib.spark.ann import ivf_assign, srp_signatures

        if not self.ann_exists(name):
            # same dropped-row resurrection guard as samples/signatures
            raise ValueError(
                f"ANN index {name!r} has no data on disk (dropped or never "
                "created) — create_ann_index() it before refreshing"
            )
        reg = self._registry_meta("_ann_catalog", _ANN_SCHEMA, name, "ANN index")
        if reg["files_json"] is None:
            raise ValueError(
                f"ANN index {name!r} was registered without file lineage — "
                "rebuild once with create_ann_index(overwrite=True) to enable refresh"
            )
        new, current, _ = self._lineage_new_files(
            reg, "index", "rebuild with create_ann_index(overwrite=True)"
        )
        if not new:
            return {"new_files": 0, "rows_added": 0}
        df = self._read_files(reg["input_dir"], new)
        adir = os.path.join(self.root, "ann", name)
        if reg["kind"] == "srp":
            idx = srp_signatures(
                df, reg["vec_col"], reg["id_col"],
                n_bits=reg["n_bits"], seed=reg["seed"], with_vec=True,
            )
            idx.sortWithinPartitions("bucket").write.mode("append").parquet(adir)
        else:
            centroids = np.array(_json.loads(reg["centroids_json"]))
            assigned = ivf_assign(df, reg["vec_col"], reg["id_col"], centroids)
            assigned.write.mode("append").partitionBy("_list").parquet(adir)
        n_total = _dir_num_rows(adir)  # footer read, no Spark job
        self._append_registry_row(
            "_ann_catalog", _ANN_SCHEMA,
            (
                name, reg["input_dir"], reg["kind"], reg["vec_col"], reg["id_col"],
                reg["n_bits"], reg["seed"], reg["n_lists"], reg["centroids_json"],
                n_total, time.time(), _json.dumps(sorted(current)),
            ),
        )
        return {"new_files": len(new), "rows_added": n_total - int(reg["rows"])}

    def ann_exists(self, name: str) -> bool:
        return os.path.isdir(os.path.join(self.root, "ann", name))

    def ann_index(self, name: str) -> DataFrame:
        if not self.ann_exists(name):
            raise ValueError(f"unknown ANN index {name!r}")
        return self._read_artifact("ann", name)

    def ann_meta(self, name: str):
        """Newest registration row for a persisted ANN index."""
        return self._registry_meta("_ann_catalog", _ANN_SCHEMA, name, "ANN index")

    def list_ann_indexes(self) -> DataFrame:
        return self._registry_live("_ann_catalog", _ANN_SCHEMA, "ann")

    def drop_ann_index(self, name: str) -> None:
        adir = os.path.join(self.root, "ann", name)
        if os.path.isdir(adir):
            shutil.rmtree(adir)

    # --- persisted MinHash SIGNATURE tables (VERDICT r4 #1) ------------------
    # The artifact incremental dedup (dedup_delta) probes daily. The
    # registration row carries the FULL signing contract — (r, n_bands,
    # seed) plus input lineage — so a delta can never be signed with a
    # mismatched seed against this table: a seed mismatch makes every
    # MinHash comparison silently miss (zero recall, duplicates kept), the
    # one failure mode a dedup pipeline cannot observe from its output.
    # dedup_delta(catalog=..., catalog_key=...) reads the contract from
    # here and REFUSES an explicit conflicting seed.

    def create_signatures(
        self,
        name: str,
        input_dir: str,
        tokens_col: str = "tokens",
        id_col: str = "doc_id",
        r: int = 128,
        n_bands: int = 32,
        seed: int = 17,
        overwrite: bool = False,
    ) -> DataFrame:
        """Sign a token-array parquet table (ONE corpus scan, zero shuffle —
        minhash_signatures is a mapInArrow pass) and register the persisted
        (id, sig, bands) table with its signing contract."""
        from sketchlib.spark.dedup import minhash_signatures

        if r % n_bands != 0:
            raise ValueError(f"r={r} must be divisible by n_bands={n_bands}")
        if self.sig_exists(name):
            if not overwrite:
                raise ValueError(f"signature table {name!r} already exists (use overwrite=True)")
            self.drop_signatures(name)
        from sketchlib.spark.scan import plan_chunks

        files = sorted({c.file for c in plan_chunks(input_dir)})
        df = self._read_files(input_dir, files)
        sigs = minhash_signatures(df, tokens_col, id_col, r=r, n_bands=n_bands, seed=seed)
        sdir = os.path.join(self.root, "signatures", name)
        sigs.write.mode("overwrite").parquet(sdir)
        persisted = self._read_artifact("signatures", name)
        self._register_sigs(
            name, input_dir, tokens_col, id_col, r, n_bands, seed,
            _dir_num_rows(sdir), json.dumps(files),
        )
        return persisted

    def _register_sigs(
        self, name, input_dir, tokens_col, id_col, r, n_bands, seed, rows, files_json
    ) -> None:
        self._append_registry_row(
            "_sig_catalog", _SIG_SCHEMA,
            (name, input_dir, tokens_col, id_col, int(r), int(n_bands),
             int(seed), int(rows), time.time(), files_json),
        )

    def refresh_signatures(self, name: str) -> dict:
        """Sign ONLY the parquet files appended to the input dir since the
        last build/refresh (content-keyed — the registered (r, n_bands,
        seed) make the new rows byte-identical to what a full rebuild would
        hold for them) and append. Covered files must still exist
        (signature tables cannot subtract); returns {new_files, rows_added}."""
        from sketchlib.spark.dedup import minhash_signatures

        reg = self._live_sig_meta(name)
        new, current, _ = self._lineage_new_files(
            reg, "signature table", "rebuild with create_signatures(overwrite=True)"
        )
        if not new:
            return {"new_files": 0, "rows_added": 0}
        df = self._read_files(reg["input_dir"], new)
        sigs = minhash_signatures(
            df, reg["tokens_col"], reg["id_col"],
            r=reg["r"], n_bands=reg["n_bands"], seed=reg["seed"],
        )
        sdir = os.path.join(self.root, "signatures", name)
        sigs.write.mode("append").parquet(sdir)
        n_total = _dir_num_rows(sdir)  # footer read, no Spark job
        self._register_sigs(
            name, reg["input_dir"], reg["tokens_col"], reg["id_col"],
            reg["r"], reg["n_bands"], reg["seed"], n_total, json.dumps(sorted(current)),
        )
        return {"new_files": len(new), "rows_added": n_total - int(reg["rows"])}

    def append_signatures(self, name: str, sig_df: DataFrame) -> dict:
        """Append already-signed rows — dedup_delta's kept-signature output —
        closing the daily loop THROUGH the catalog. The rows must have been
        signed under this table's registered contract; shape is verified
        against the registration (a wrong (r, n_bands) append would poison
        every later probe), and callers that signed outside
        ``dedup_delta(catalog=...)`` own the seed match. File lineage is
        unchanged (these rows have no input files); the registration row is
        re-stamped with the new total. Returns {rows_added}."""
        reg = self._live_sig_meta(name)
        first = sig_df.select("sig", "bands").first()
        if first is not None:
            got_r, got_b = len(first["sig"]), len(first["bands"])
            if (got_r, got_b) != (reg["r"], reg["n_bands"]):
                raise ValueError(
                    f"appended signatures have (r={got_r}, n_bands={got_b}) but "
                    f"{name!r} is registered with (r={reg['r']}, "
                    f"n_bands={reg['n_bands']}) — sign the rows via "
                    "dedup_delta(catalog=...) so the contract cannot drift"
                )
        sdir = os.path.join(self.root, "signatures", name)
        sig_df.write.mode("append").parquet(sdir)
        n_total = _dir_num_rows(sdir)  # footer read, no Spark job
        self._register_sigs(
            name, reg["input_dir"], reg["tokens_col"], reg["id_col"],
            reg["r"], reg["n_bands"], reg["seed"], n_total, reg["files_json"],
        )
        return {"rows_added": n_total - int(reg["rows"])}

    def _live_sig_meta(self, name: str):
        """Registration row for a signature table that is ALIVE on disk.
        The registry log is append-only, so a DROPPED table's stale row
        would otherwise let refresh/append silently RESURRECT a partial
        table (new rows only, lineage claiming full coverage) — and a
        later dedup_delta probing it would keep every duplicate of the
        missing docs, the exact zero-recall failure the registry exists
        to prevent. Mutations must come through here, not _registry_meta."""
        if not self.sig_exists(name):
            raise ValueError(
                f"signature table {name!r} has no data on disk (dropped or "
                "never created) — create_signatures() it before refreshing "
                "or appending"
            )
        return self._registry_meta("_sig_catalog", _SIG_SCHEMA, name, "signature table")

    def sig_exists(self, name: str) -> bool:
        return os.path.isdir(os.path.join(self.root, "signatures", name))

    def signatures(self, name: str) -> DataFrame:
        if not self.sig_exists(name):
            raise ValueError(f"unknown signature table {name!r}")
        return self._read_artifact("signatures", name)

    def sig_meta(self, name: str):
        """Newest registration row for a persisted signature table."""
        return self._registry_meta("_sig_catalog", _SIG_SCHEMA, name, "signature table")

    def list_signatures(self) -> DataFrame:
        return self._registry_live("_sig_catalog", _SIG_SCHEMA, "signatures")

    def drop_signatures(self, name: str) -> None:
        sdir = os.path.join(self.root, "signatures", name)
        if os.path.isdir(sdir):
            shutil.rmtree(sdir)

    def ann_topk(
        self,
        name: str,
        queries,
        k: int = 10,
        query_ids=None,
        multiprobe: bool = True,
        nprobe: int = 4,
    ) -> DataFrame:
        """Answer a probe batch from the persisted index ALONE (the base
        table is never read — tested with it deleted). Output:
        (query_id, <id_col>, cosine), top-k per query."""
        import json as _json

        import numpy as np

        from sketchlib.spark.ann import ivf_probe_rows, srp_probe_rows, topk_from_bucketed_index

        meta = self.ann_meta(name)
        idx = self.ann_index(name)
        Q = np.asarray(queries, dtype=np.float64)
        if query_ids is None:
            query_ids = list(range(len(Q)))
        if meta["kind"] == "srp":
            probe_rows = srp_probe_rows(Q, query_ids, meta["n_bits"], meta["seed"], multiprobe)
            bucket_col = "bucket"
        else:
            centroids = np.asarray(_json.loads(meta["centroids_json"]))
            probe_rows = ivf_probe_rows(centroids, Q, query_ids, nprobe)
            bucket_col = "_list"
        return topk_from_bucketed_index(
            idx, bucket_col, probe_rows, Q, query_ids, meta["vec_col"], meta["id_col"], k=k
        )

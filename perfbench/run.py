"""sketchlib benchmark: one workload, one closed-loop client, one run.

Run from the repository root:

    python3 perfbench/run.py --workload build|query|ingest --seed N --seconds S --trace 0|1

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics and the tracing overhead. Human-readable report lines go
first; the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0 only when
every answer passed its check. Everything the run writes lives under
``.perfbench_work/`` in the current directory and is removed at the end.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("build", "query", "ingest")
# span layers; "bench" is the harness itself (operation bodies and answer checks)
LAYERS = ("session", "scan", "build", "catalog", "sql", "query", "bench")
N_DELTAS = 40  # ingest rounds available per run; a run stops early if it uses them all


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# --- process bookkeeping ------------------------------------------------------


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid``, read from /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        kids = [c for c, p in parent.items() if p in frontier]
        out += kids
        frontier = kids
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict[str, float]:
    """VmHWM in MB of this process, the JVM and the Python workers, by
    process name."""
    out: dict[str, float] = {}
    me = os.getpid()
    for pid in [me] + descendants(me):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        out[comm] = out.get(comm, 0.0) + vm_hwm_kb(pid) / 1024.0
    return out


def stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin (it exits on EOF) and wait
    for every descendant process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        left = descendants(os.getpid())
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGTERM if time.time() < deadline - 15 else signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


# --- metrics -----------------------------------------------------------------


def m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(bench, ops, setup_s: float, rss_mb: dict) -> dict:
    busy = sum(o.latency for o in ops)
    state_bytes = sum(len(b) for b in bench.reference.values())
    return {
        "setup_s": m(setup_s, "s"),
        "ops_per_s": m(len(ops) / busy, "1/s"),
        "tokens_per_s": m(sum(o.tokens for o in ops) / busy, "1/s"),
        "latency_p50_ms": m(1e3 * checks.median([o.latency for o in ops]), "ms"),
        "ok_frac": m(sum(o.verdict.ok for o in ops) / len(ops), "ratio"),
        "peak_rss_mb": m(sum(rss_mb.values()), "MB"),
        "state_bytes_per_mtok": m(state_bytes / (bench.reference_tokens / 1e6), "B/Mtok"),
    }


def tails(ops) -> dict:
    """Figures that are printed but not bounded (see README): tails, which
    exist only where a run has enough samples beyond them, read latency and
    the median latency of each query statement."""
    out = {}
    for name in sorted({o.name for o in ops if o.name}):
        xs = [o.latency for o in ops if o.name == name]
        out[f"statement.{name}_p50_ms"] = (1e3 * checks.median(xs), f"ms over {len(xs)}")
    series = {"latency": [o.latency for o in ops]}
    reads = [r for o in ops for r in o.reads]
    if reads:
        series["read_latency"] = reads
        out["read_latency_p50_ms"] = (1e3 * checks.median(reads), "ms")
    for name, xs in series.items():
        for q in (0.9, 0.95):
            try:
                out[f"{name}_p{int(q * 100)}_ms"] = (1e3 * checks.tail_percentile(xs, q), "ms")
            except checks.TooFewSamples as e:
                out[f"{name}_p{int(q * 100)}_ms"] = (None, f"refused: {e}")
    return out


def med(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def per_layer(bench, tracer, traced_ops, untraced_ops, probe: dict) -> dict:
    from spans import inclusive, layer_self_times
    from workloads import SKETCH_SET

    spans = tracer.spans
    by = lambda name: [s for s in spans if s.name == name]  # noqa: E731
    jobs = inclusive(spans, lambda s: len(s.jobs))
    tasks = inclusive(spans, lambda s: sum(st["tasks"] for st in s.stages))
    byid = {s.id: s for s in spans}

    def in_base_build(s) -> bool:
        """Under a full build of the base table: a build op or its registration."""
        while s is not None:
            if s.name == "build.execute" or (
                s.name == "catalog.create" and s.attrs.get("name") == SKETCH_SET
            ):
                return True
            s = byid.get(s.parent)
        return False

    stages = [st for s in spans if in_base_build(s) for st in s.stages]
    partial = [st for st in stages if st["shuffle_write_records"] > 0 and st["shuffle_read_records"] == 0]
    merge = [st for st in stages if st["shuffle_read_records"] > 0]
    lookups = by("catalog.lookup")
    out = {
        "session.start_s": m(sum(s.duration for s in by("session.get_spark")), "s"),
        "scan.plan_chunks_ms": m(1e3 * med(s.duration for s in by("scan.plan_chunks")), "ms"),
        "scan.chunks": m(med(s.attrs["chunks"] for s in by("scan.plan_chunks")), "count"),
        "scan.partial_ms": m(med(st["wall_ms"] for st in partial), "ms"),
        "scan.partial_tasks": m(med(st["tasks"] for st in partial), "count"),
        "scan.partial_state_rows": m(med(st["shuffle_write_records"] for st in partial), "count"),
        "scan.partial_state_bytes": m(med(st["shuffle_write_bytes"] for st in partial), "B"),
        "build.merge_ms": m(med(st["wall_ms"] for st in merge), "ms"),
        "build.merge_tasks": m(med(st["tasks"] for st in merge), "count"),
        "catalog.create_s": m(sum(s.duration for s in by("catalog.create")), "s"),
        "catalog.refresh_ms": m(1e3 * med(s.duration for s in by("catalog.refresh")), "ms"),
        "catalog.refresh_spark_jobs": m(med(jobs[s.id] for s in by("catalog.refresh")), "count"),
        "catalog.lookup_ms": m(1e3 * med(s.duration for s in lookups), "ms"),
        "catalog.lookup_hit_ratio": m(
            sum(jobs[s.id] == 0 for s in lookups) / max(len(lookups), 1), "ratio"
        ),
        "sql.stmt_ms": m(1e3 * med(s.duration for s in by("sql.statement")), "ms"),
        "sql.spark_jobs_per_stmt": m(med(jobs[s.id] for s in by("sql.statement")), "count"),
        "sql.spark_tasks_per_stmt": m(med(tasks[s.id] for s in by("sql.statement")), "count"),
    }
    for key, value in probe.items():
        unit = ("1/s" if key.startswith(("build.kernel", "hashing")) else
                "B" if key.endswith("state_bytes") else
                "us" if key.endswith("_us") else "ms")
        out[key] = m(value, unit)
    self_s = layer_self_times(spans)
    for layer in LAYERS:
        out[f"{layer}.self_s"] = m(self_s.get(layer, 0.0), "s")
    t_med = checks.median([o.latency for o in traced_ops])
    u_med = checks.median([o.latency for o in untraced_ops])
    out["trace.overhead_ms"] = m(1e3 * (t_med - u_med), "ms")
    out["trace.overhead_pct"] = m(100.0 * (t_med - u_med) / u_med, "%")
    return out


def declared_metrics(root: str, section: str) -> set | None:
    """Metric names BENCHMARK.json declares for ``section``, if the file exists."""
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return {m["name"] for m in json.load(fh)[section]}


# --- the run -----------------------------------------------------------------


def prepare_env(root: str, run_dir: str, trace: bool) -> dict:
    """Process environment and Spark settings that keep every file the run
    writes inside ``run_dir``; returns the extra Spark conf."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # executors' Python workers are forked from the JVM, which inherits this
    # environment: they import sketchlib from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM (spark-submit's launcher and Spark's own): temp files in the
    # run directory, and no /tmp/hsperfdata_<user> performance-data file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SKETCHLIB_DRIVER_MEM", "2g")
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job and stage of the run for resolve_spark()
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return conf


def measure(bench, seconds: float, tracer) -> list:
    """The closed loop: one operation after another until ``seconds`` pass.
    With a tracer, every other operation is traced, so traced and untraced
    operations interleave under the same conditions."""
    from workloads import instrument

    op_fn = {"build": bench.op_build, "query": bench.op_query, "ingest": bench.op_ingest}[bench.workload]
    ops = []
    end = time.perf_counter() + seconds
    while time.perf_counter() < end:
        if bench.workload == "ingest" and bench.deltas_left() == 0:
            break
        traced = tracer is not None and len(ops) % 2 == 1
        if traced:
            instrument(tracer)
            tracer.enabled, tracer.op = True, len(ops)
        with bench.span("bench.op"):
            op = op_fn()
        if tracer is not None:
            tracer.unwrap_all()
            tracer.enabled, tracer.op = False, None
        op.traced = traced
        ops.append(op)
    return ops


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import sketchlib.spark
    except ImportError as e:
        print(f"perfbench: cannot import sketchlib from {root}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(sketchlib.spark.__file__).startswith(os.path.join(root, "")):
        print(f"perfbench: sketchlib comes from {sketchlib.spark.__file__}, not from {root}",
              file=sys.stderr)
        return 2
    import workloads
    from spans import Tracer

    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)  # leftovers of an interrupted run
    os.makedirs(run_dir)
    bench, phases = None, {}
    try:
        spark_conf = prepare_env(root, run_dir, bool(args.trace))
        inputs_dir = os.path.join(run_dir, "inputs")
        spec = inputs.InputSpec(seed=args.seed, n_deltas=N_DELTAS if args.workload == "ingest" else 0)
        t0 = time.perf_counter()
        inputs.write_inputs(spec, inputs_dir, workers=min(4, os.cpu_count() or 1))
        # the table the library sees: links to the generated base files, to
        # which ingest appends delta files
        src = os.path.join(inputs_dir, "table")
        shutil.copytree(src, os.path.join(run_dir, "table"), copy_function=os.link)
        tracer = Tracer() if args.trace else None
        bench = workloads.Bench(args.workload, args.seed, run_dir, inputs_dir, tracer, spark_conf)
        phases["inputs"] = time.perf_counter() - t0
        if tracer is not None:
            workloads.instrument(tracer)
        setup_s = phases["setup"] = bench.setup()
        if tracer is not None:
            tracer.unwrap_all()
            tracer.enabled = False
        t0 = time.perf_counter()
        ops = measure(bench, args.seconds, tracer)
        phases["measure"] = time.perf_counter() - t0
        final = bench.final_check()
        accuracy = checks.Verdict()
        accuracy.absorb(bench.setup_verdict)
        for o in ops:
            accuracy.absorb(o.verdict)
        accuracy.absorb(final)
        rss = peak_rss_mb()
        if tracer is None:
            metrics = end_to_end(bench, ops, setup_s, rss)
            extra = tails(ops)
            for comm, mb in sorted(rss.items()):
                extra[f"peak_rss_mb.{comm}"] = (mb, "MB")
        else:
            from probes import kernel_probe, query_probe, sketch_probe

            states_dir = os.path.join(run_dir, "catalog", "states", workloads.SKETCH_SET)
            probe = kernel_probe(os.path.join(inputs_dir, "table"), workloads.seq_specs())
            probe.update(sketch_probe(states_dir))
            probe.update(query_probe(bench.spark, bench.catalog, workloads.SKETCH_SET,
                                     workloads.STATEMENTS, bench.tables))
            time.sleep(1.0)  # let Spark's listener catch up before reading stage figures
            tracer.resolve_spark()
            tracer.dump(os.path.join(work, f"spans-{args.workload}-seed{args.seed}.jsonl"))
            metrics = per_layer(bench, tracer, [o for o in ops if o.traced],
                                [o for o in ops if not o.traced], probe)
            extra = {}
        phases["after"] = time.perf_counter() - t0 - phases["measure"]
    finally:
        t0 = time.perf_counter()
        if bench is not None and bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        phases["stop"] = time.perf_counter() - t0

    declared = declared_metrics(root, "per_layer" if args.trace else "end_to_end")
    if declared is not None and declared != set(metrics):
        print(f"perfbench: metrics {sorted(set(metrics) ^ declared)} differ from BENCHMARK.json",
              file=sys.stderr)
        return 3
    failed = sum(not o.verdict.ok for o in ops)
    correct = failed == 0 and bench.setup_verdict.ok and final.ok
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: {len(ops)} ops; phases "
          + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    for k, v in metrics.items():
        print(f"  {k:36s} {v['value']:14.4f} {v['unit']}")
    for k, (v, unit) in extra.items():
        print(f"  {k:36s} {'-' if v is None else f'{v:14.4f}':>14} {unit}  (not bounded)")
    if args.workload == "ingest":
        print(f"  note: {bench.cm_candidate_lists_differ} refreshed Count-Min states differ from a "
              "fresh build only in their merge-order-dependent candidate lists")
    for k, v in sorted(accuracy.figures.items()):
        print(f"  {k:36s} {v:14.6f} (worst over the run's answers, not bounded)")
    for msg in (accuracy.failures)[:20]:
        print(f"  CHECK FAILED: {msg}")
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

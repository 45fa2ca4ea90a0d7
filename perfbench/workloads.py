"""The three workloads: one client thread in a closed loop against sketchlib.

Set-up: start the session, build and register the ``seq`` sketch set over
the base table and the ``side`` set over the UNION side table, refresh ``seq``
once (nothing new: it confirms the set is current), answer the first
``warmup_cycles()`` cycles of the query rotation, and for ingest run one
warm-up round. Then each workload measures its operation:

- ``build``: one full ``build_sketches_from_parquet`` over the base table,
  collected into this process;
- ``query``: one ``approx_sql`` statement of the seeded rotation, answered
  from the registered states;
- ``ingest``: append one pre-generated delta, ``SketchCatalog.refresh``, then
  answer the READS statements from the refreshed set.

Every answer is checked against the exact oracle (checks.py).
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

import checks
import inputs
import numpy as np
import pyarrow.parquet as pq

SKETCH_SET, SIDE_SET = "seq", "side"
ROTATION_CYCLES = 16


def seq_specs():
    from sketchlib.spark import SketchSpec

    # bench.py's SEQ_SPECS: the six sketches of the headline build
    return [
        SketchSpec("hll_doc", "hll", "doc_id", {"p": 14}),
        SketchSpec("hll_tok", "hll", "tokens", {"p": 14}),
        SketchSpec("cm_tok", "cm", "tokens", {"eps": 1e-4, "delta": 0.01}),
        SketchSpec("kll_ntok", "kll", "n_tok", {"k": 200}),
        SketchSpec("td_ntok", "tdigest", "n_tok", {"compression": 200}),
        SketchSpec("bloom_tok", "bloom", "tokens", {"m_bits": 1 << 20, "h": 7}),
    ]


def side_specs():
    from sketchlib.spark import SketchSpec

    return [SketchSpec("hll_doc", "hll", "doc_id", {"p": 14})]


@dataclass(frozen=True)
class Statement:
    name: str
    sql: str
    key: str | None  # catalog key; None = let approx_sql auto-select


STATEMENTS = (
    Statement("distinct_docs", "SELECT APPROX_COUNT_DISTINCT(doc_id) FROM seq GROUP BY source", SKETCH_SET),
    Statement("distinct_tokens", "SELECT APPROX_COUNT_DISTINCT(tokens) FROM seq GROUP BY source", SKETCH_SET),
    Statement("topk", "SELECT APPROX_TOPK(tokens, 10) FROM seq GROUP BY source", SKETCH_SET),
    Statement("percentile", "SELECT APPROX_PERCENTILE(n_tok, 0.5, 0.9, 0.99) FROM seq GROUP BY source", SKETCH_SET),
    Statement("auto_percentile", "SELECT APPROX_PERCENTILE(n_tok, 0.25, 0.75) FROM seq GROUP BY source", None),
    Statement(
        "union_docs",
        "SELECT APPROX_COUNT_DISTINCT(doc_id) AS est FROM "
        "(SELECT doc_id FROM seq UNION SELECT doc_id FROM side)",
        None,
    ),
)
BY_NAME = {s.name: s for s in STATEMENTS}
READS = ("distinct_docs", "topk", "percentile")  # ingest's reads after each refresh


def rotation(seed: int) -> list[Statement]:
    """The query workload's fixed, seeded statement order: cycles that each
    hold every statement once, each cycle in its own seeded order, so any
    window of the loop holds every statement equally often (within one)."""
    rng = random.Random(seed)
    return [s for _ in range(ROTATION_CYCLES) for s in rng.sample(STATEMENTS, len(STATEMENTS))]


def instrument(tracer) -> None:
    """Wrap the public functions of each layer with spans. Modules that bind
    a function at import time are wrapped at that binding too."""
    import sketchlib.sql as sql
    from sketchlib.spark import build, catalog, query, scan, session

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(scan, "plan_chunks", "scan.plan_chunks", lambda out, a, kw: {"chunks": len(out)})
    tracer.wrap(scan, "partial_states_from_parquet", "scan.partial_states_from_parquet")
    for mod in (scan, catalog):
        tracer.wrap(mod, "build_sketches_from_parquet", "scan.build_sketches_from_parquet")
    for mod in (build, scan):
        tracer.wrap(mod, "merge_states", "build.merge_states")
    tracer.wrap(catalog.SketchCatalog, "create", "catalog.create", lambda out, a, kw: {"name": a[1]})
    tracer.wrap(catalog.SketchCatalog, "refresh", "catalog.refresh")
    tracer.wrap(catalog.SketchCatalog, "list_rows", "catalog.lookup")
    tracer.wrap(catalog.SketchCatalog, "states", "catalog.states")
    tracer.wrap(sql, "approx_sql", "sql.approx_sql")
    for fn in ("estimates_df", "topk_df", "quantiles_df"):
        tracer.wrap(sql, fn, "query.answer")
    tracer.wrap(query, "load_states", "query.load_states")


@dataclass
class Op:
    latency: float
    tokens: int
    verdict: checks.Verdict
    reads: list = field(default_factory=list)  # ingest: latencies of the reads in the round
    traced: bool = False
    name: str = ""  # query: the statement answered


class Bench:
    """One benchmark run's state: session, catalog, oracle and tracer."""

    def __init__(self, workload: str, seed: int, run_dir: str, inputs_dir: str, tracer=None,
                 spark_conf: dict | None = None):
        self.workload = workload
        self.run_dir = run_dir
        self.inputs_dir = inputs_dir
        self.table_dir = os.path.join(run_dir, "table")
        self.side_dir = os.path.join(inputs_dir, "side")
        self.tracer = tracer
        self.spark_conf = spark_conf or {}
        self.spark = None
        self.catalog = None
        self.oracle = inputs.Oracle().add_dir(self.table_dir)
        self.side_docs = inputs.Oracle().add_dir(self.side_dir).all_doc_idx()
        self.reference: dict | None = None
        self.reference_tokens = 0
        self.setup_verdict = checks.Verdict()
        self.rotation = rotation(seed)
        self.next_delta = 0
        self.query_i = 0
        self.cm_candidate_lists_differ = 0
        self.tables = {"seq": self.table_dir, "side": self.side_dir}

    # --- tracing helpers ------------------------------------------------------
    def span(self, name: str, **attrs):
        import contextlib

        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    # --- set-up ---------------------------------------------------------------
    def setup(self) -> float:
        """Session start + registering states + warm-up; returns seconds."""
        from sketchlib.spark import session
        from sketchlib.spark.catalog import SketchCatalog

        t0 = time.perf_counter()
        with self.span("bench.setup"):
            cores = os.cpu_count() or 4
            self.spark = session.get_spark(
                "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
                extra_conf=self.spark_conf,
            )
            if self.tracer is not None:
                self.tracer.attach(self.spark.sparkContext)
            self.catalog = SketchCatalog(self.spark, os.path.join(self.run_dir, "catalog"))
            self.catalog.create(SKETCH_SET, self.table_dir, seq_specs(), group_by="source")
            self.catalog.create(SIDE_SET, self.side_dir, side_specs(), group_by="source")
            self.catalog.refresh(SKETCH_SET)
            for st in self.rotation[: len(STATEMENTS) * self.warmup_cycles()]:
                self.setup_verdict.absorb(self.statement(st)[1])
            if self.workload == "ingest":
                # first use of the refresh path (delta kernel job, local merge)
                self.setup_verdict.absorb(self.op_ingest().verdict)
        setup_s = time.perf_counter() - t0
        self.reference = self.persisted_states()
        self.reference_tokens = self.oracle.tokens  # input tokens the reference states cover
        self.setup_verdict.absorb(self.check_states(self.reference))
        return setup_s

    def warmup_cycles(self) -> int:
        """Rotation cycles answered in set-up. query needs four: its statement
        latency keeps falling over the first ~25 statements as the JVM
        compiles the planning paths. build answers none (it uses no sql),
        except when traced, so that every layer has figures."""
        if self.workload == "query":
            return 4
        return 1 if self.workload == "ingest" or self.tracer is not None else 0

    # --- oracle-backed checks -------------------------------------------------
    def persisted_states(self) -> dict:
        path = os.path.join(self.run_dir, "catalog", "states", SKETCH_SET)
        rows = pq.read_table(path, columns=["group", "sketch", "state"]).to_pylist()
        return {(r["group"], r["sketch"]): r["state"] for r in rows}

    def check_states(self, states: dict) -> checks.Verdict:
        """Check the six sketches of a state set against the oracle, the way
        a client reads a build's output: deserialize and estimate."""
        from sketchlib.sketches import deserialize

        o = self.oracle
        v = checks.Verdict()
        sk = {k: deserialize(b) for k, b in states.items()}
        groups = sorted(o.by_source)
        for name, exact in (("hll_doc", o.distinct_docs), ("hll_tok", o.distinct_tokens)):
            rows = [dict(zip(("group", "estimate", "rse_bound"), (g, *sk[(g, name)].estimate())))
                    for g in groups]
            v.absorb(checks.check_distinct(rows, {g: exact(g) for g in groups}))
        rows = []
        for g in groups:
            ids, est = sk[(g, "cm_tok")].topk(10)
            rows += [{"group": g, "token": int(i), "est_count": int(e),
                      "err_bound": sk[(g, "cm_tok")].error_bound()} for i, e in zip(ids, est)]
        v.absorb(checks.check_topk(rows, {g: o.by_source[g].token_counts for g in groups}, 10))
        for name in ("kll_ntok", "td_ntok"):
            qs = (0.5, 0.9, 0.99)
            rows = [{"group": g, "q": q, "value": float(val), "rank_err_bound": sk[(g, name)].error_bound()}
                    for g in groups for q, val in zip(qs, sk[(g, name)].quantiles(list(qs)))]
            v.absorb(checks.check_percentiles(rows, o.rank_interval))
        for g in groups:
            present = sk[(g, "bloom_tok")].contains(o.by_source[g].token_counts.nonzero()[0])
            if not present.all():
                v.fail(f"bloom {g}: {int((~present).sum())} inserted tokens reported absent")
        return v

    def check_statement(self, st: Statement, rows: list[dict]) -> checks.Verdict:
        o = self.oracle
        groups = sorted(o.by_source)
        if st.name == "distinct_docs":
            return checks.check_distinct(rows, {g: o.distinct_docs(g) for g in groups})
        if st.name == "distinct_tokens":
            return checks.check_distinct(rows, {g: o.distinct_tokens(g) for g in groups})
        if st.name == "topk":
            return checks.check_topk(rows, {g: o.by_source[g].token_counts for g in groups}, 10)
        if st.name in ("percentile", "auto_percentile"):
            return checks.check_percentiles(rows, o.rank_interval)
        if st.name == "union_docs":
            exact = len(np.union1d(o.all_doc_idx(), self.side_docs))
            return checks.check_union(rows[0], exact, "est")
        raise ValueError(st.name)

    # --- operations -----------------------------------------------------------
    def statement(self, st: Statement) -> tuple[float, checks.Verdict]:
        """Answer one statement; (latency seconds, verdict)."""
        from sketchlib.sql import approx_sql

        t0 = time.perf_counter()
        with self.span("sql.statement", statement=st.name):
            rows = [r.asDict() for r in approx_sql(
                self.spark, st.sql, self.tables, catalog=self.catalog, catalog_key=st.key
            ).collect()]
        dt = time.perf_counter() - t0
        return dt, self.check_statement(st, rows)

    def op_build(self) -> Op:
        from sketchlib.spark.scan import build_sketches_from_parquet

        t0 = time.perf_counter()
        with self.span("build.execute"):
            rows = build_sketches_from_parquet(
                self.spark, self.table_dir, seq_specs(), group_by="source"
            ).collect()
        dt = time.perf_counter() - t0
        states = {(r["group"], r["sketch"]): bytes(r["state"]) for r in rows}
        v = self.check_states(states)
        if states != self.reference:
            v.fail("build states differ from the registered reference states")
        return Op(dt, self.oracle.tokens, v)

    def op_query(self) -> Op:
        st = self.rotation[self.query_i % len(self.rotation)]
        self.query_i += 1
        dt, v = self.statement(st)
        return Op(dt, self.oracle.tokens, v, name=st.name)

    def append_delta(self) -> int:
        """Link the next pre-generated delta's files into the table; returns
        its token count. The oracle absorbs the delta before the round."""
        r = self.next_delta
        src = inputs.delta_dir(self.inputs_dir, r)
        for root, _, files in os.walk(src):
            for f in files:
                dst = os.path.join(self.table_dir, os.path.relpath(root, src), f)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.link(os.path.join(root, f), dst)
        before = self.oracle.tokens
        self.oracle.add_dir(src)
        self.next_delta += 1
        return self.oracle.tokens - before

    def deltas_left(self) -> int:
        return len(os.listdir(os.path.join(self.inputs_dir, "deltas"))) - self.next_delta

    def op_ingest(self) -> Op:
        # appending is the producer's side and is not timed; the round is
        # refresh + reads, as a client sees the new data become answerable
        n_tok = self.append_delta()
        t0 = time.perf_counter()
        self.catalog.refresh(SKETCH_SET)
        refresh_s = time.perf_counter() - t0
        v = checks.Verdict()
        reads = []
        for name in READS:
            dt, rv = self.statement(BY_NAME[name])
            reads.append(dt)
            v.absorb(rv)
        return Op(refresh_s + sum(reads), n_tok, v, reads=reads)

    def final_check(self) -> checks.Verdict:
        """ingest: the refreshed states must equal a fresh build over the
        grown directory. HLL and Bloom states are compared byte for byte. A
        Count-Min state is its counter table plus a capped heavy-hitter
        candidate list; the table is an order-free sum and is compared byte
        for byte, with the total and item count, and the top-10 answers must
        agree. The candidate list is truncated to ``cand_cap`` at every merge,
        so it depends on merge order once a group has more distinct tokens
        than the cap: full-state differences are counted in
        ``cm_candidate_lists_differ`` and reported, not failed."""
        v = checks.Verdict()
        if self.workload != "ingest":
            return v
        from sketchlib.sketches import deserialize
        from sketchlib.spark.scan import build_sketches_from_parquet

        fresh = {
            (r["group"], r["sketch"]): bytes(r["state"])
            for r in build_sketches_from_parquet(
                self.spark, self.table_dir, seq_specs(), group_by="source"
            ).collect()
        }
        got = self.persisted_states()
        if set(fresh) != set(got):
            v.fail("refreshed state keys differ from a fresh build")
            return v
        for key, blob in fresh.items():
            if key[1] in ("hll_doc", "hll_tok", "bloom_tok") and got[key] != blob:
                v.fail(f"refreshed state {key} differs from a fresh build")
            if key[1] == "cm_tok" and got[key] != blob:
                a, b = deserialize(got[key]), deserialize(blob)
                same = (a.table.tobytes() == b.table.tobytes() and a.total == b.total
                        and a.n_items == b.n_items
                        and all(np.array_equal(x, y) for x, y in zip(a.topk(10), b.topk(10))))
                if not same:
                    v.fail(f"refreshed Count-Min {key} differs from a fresh build")
                self.cm_candidate_lists_differ += 1
        v.absorb(self.check_states(got))
        return v

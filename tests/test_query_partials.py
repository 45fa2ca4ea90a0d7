"""The merge-free answer path: answerers called with ``partial_specs`` on
build.partial_states output must return results IDENTICAL to the standard
merged-states path — the driver-side merge in _rows_to_states is
build._merge_by_key, the one canonical (part_id, state bytes) merge that
merge_states runs too, so even order-sensitive sketches (KLL compaction,
t-digest centroids) produce byte-identical states.
Also locks the overflow fallback: above the byte-aware probe cap the call
falls back to merge_states + normal routing (never duplicate groups on the
distributed path)."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sketchlib.spark import SketchSpec, build_sketches
from sketchlib.spark.build import STATE_FIELDS, merge_rows, merge_states, partial_states
from sketchlib.spark.query import (
    _partial_probe_cap,
    _rows_to_states,
    estimates_df,
    quantiles_df,
    topk_df,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    rng = np.random.default_rng(7)
    for i in range(4000):
        src = ["web", "wiki", "code"][i % 3]
        rows.append((i, src, rng.integers(0, 500, size=8).tolist(), float(rng.normal(100, 25))))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "source", "tokens", "score"])
    )
    return df.repartition(6)  # several partitions -> several partials per group


def _sorted(df):
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


def test_partial_answers_match_merged(spark, docs):
    specs = [
        SketchSpec("h", "hll", "doc_id", {"p": 12}),
        SketchSpec("c", "cm", "tokens", {"eps": 1e-3, "delta": 0.01}),
        SketchSpec("k", "kll", "score", {"k": 160}),
        SketchSpec("t", "tdigest", "score", {"compression": 100}),
    ]
    merged = build_sketches(docs, specs, group_by="source")
    part = partial_states(docs, specs, group_by="source")

    for fn, name, args in [
        (estimates_df, "h", ()),
        (topk_df, "c", (5,)),
        (quantiles_df, "k", ([0.25, 0.5, 0.9],)),
        (quantiles_df, "t", ([0.25, 0.5, 0.9],)),
    ]:
        a = _sorted(fn(spark, merged, name, *args))
        b = _sorted(fn(spark, part, name, *args, partial_specs=specs))
        pd.testing.assert_frame_equal(a, b)


def test_partial_probe_cap_is_byte_aware():
    cm = [SketchSpec("c", "cm", "tokens", {"eps": 1e-4, "delta": 0.01})]
    hll = [SketchSpec("h", "hll", "doc_id", {"p": 12})]
    cap_cm = _partial_probe_cap(cm, "c")
    cap_hll = _partial_probe_cap(hll, "h")
    assert cap_cm < cap_hll  # ~1 MB CM states probe far fewer rows than 4 KB HLLs
    assert cap_cm >= 64 and cap_hll <= 8192
    assert _partial_probe_cap(cm, "missing") >= 64  # unknown sketch: floor


def test_partial_overflow_falls_back_to_merge(spark, docs, monkeypatch):
    """Force the cap below the partial row count: the path must fall back to
    merge_states + standard routing and still return correct results."""
    import sketchlib.spark.query as q

    specs = [SketchSpec("h", "hll", "doc_id", {"p": 12})]
    merged = _sorted(estimates_df(spark, build_sketches(docs, specs, group_by="source"), "h"))
    monkeypatch.setattr(q, "_PROBE_ROWS", 1)
    monkeypatch.setattr(q, "_PARTIAL_PROBE_BYTES", 1)
    part = partial_states(docs, specs, group_by="source")
    b = _sorted(estimates_df(spark, part, "h", partial_specs=specs))
    pd.testing.assert_frame_equal(merged, b)


_MERGE_SPECS = [
    SketchSpec("h", "hll", "doc_id", {"p": 12}),
    SketchSpec("c", "cm", "tokens", {"eps": 1e-3, "delta": 0.01, "cand_cap": 64}),
    SketchSpec("k", "kll", "score", {"k": 64}),
    SketchSpec("t", "tdigest", "score", {"compression": 50}),
]


@pytest.fixture(scope="module")
def partial_rows(docs):
    """Partial state rows of ``docs`` (six per group and sketch), with the
    fanout's ``bucket`` column (part_id % 2)."""
    return [
        {**r.asDict(), "state": bytes(r["state"]), "bucket": r["part_id"] % 2}
        for r in partial_states(docs, _MERGE_SPECS, group_by="source").collect()
    ]


def _spark_merged(spark, rows, fanout=None):
    cols = [f.split()[0] for f in STATE_FIELDS.split(", ")]
    df = spark.createDataFrame([tuple(r[c] for c in cols) for r in rows], STATE_FIELDS)
    return [r.asDict() for r in merge_states(df, fanout=fanout).collect()]


def _by_key(rows):
    return {(r["group"], r["sketch"]): (bytes(r["state"]), r["n_items"], r["rows"], r["tokens"])
            for r in rows}


@pytest.mark.parametrize("order", ["given", "reversed", "shuffled"])
def test_merge_rows_is_the_merge_of_every_route(spark, docs, partial_rows, canonical_fold, order):
    """``merge_rows`` over the partials, in any input order, gives the
    states of the canonical (part_id, state bytes) fold, of ``merge_states``
    over the same rows as a DataFrame, and of the serving loader; the
    fanout shape (level 1 per bucket, level 2 over the survivors) equals
    ``merge_states(fanout=2)``. The capped Count-Min, KLL and t-digest make
    the order visible; rows/tokens are the partials' sums."""
    rows = list(partial_rows)
    if order == "reversed":
        rows.reverse()
    elif order == "shuffled":
        random.Random(11).shuffle(rows)
    merged = merge_rows(rows)
    want = canonical_fold(partial_rows)
    assert {(r["group"], r["sketch"]): r["state"] for r in merged} == want
    assert {k: sk.to_bytes() for k, sk in _rows_to_states(rows).items()} == want
    assert _by_key(merged) == _by_key(_spark_merged(spark, rows))
    for s in _MERGE_SPECS:
        assert sum(r["rows"] for r in merged if r["sketch"] == s.name) == docs.count()

    level1 = [r for b in (1, 0) for r in merge_rows([r for r in rows if r["bucket"] == b])]
    random.Random(12).shuffle(level1)
    assert _by_key(merge_rows(level1)) == _by_key(_spark_merged(spark, rows, fanout=2))

    # rows that tie on part_id (merged rows, -1 each, as a UNION ALL of
    # sets brings them) are ordered by their state bytes
    tied = [{**r, "part_id": -1} for r in rows]
    assert {(r["group"], r["sketch"]): r["state"] for r in merge_rows(tied)} == canonical_fold(tied)
    assert _by_key(merge_rows(tied)) == _by_key(_spark_merged(spark, tied))


def test_build_states_are_the_canonical_fold_of_its_partials(docs, partial_rows, canonical_fold):
    """A build's merged states are its partials folded in the canonical
    (part_id, state bytes) order."""
    built = build_sketches(docs, _MERGE_SPECS, group_by="source").collect()
    assert {(r["group"], r["sketch"]): bytes(r["state"]) for r in built} == canonical_fold(partial_rows)

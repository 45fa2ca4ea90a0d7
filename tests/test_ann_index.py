"""Persisted ANN indexes (VERDICT r2 #3): the base embeddings are scanned
once at index build; probe batches are answered from the self-contained
index with the bucket filter pushed to the parquet scan — verified with the
base table DELETED."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sketchlib.spark.ann import srp_signatures, srp_topk_many
from sketchlib.spark.catalog import SketchCatalog


@pytest.fixture(scope="module")
def emb_base(spark, tmp_path_factory):
    """200 deterministic 16-d vectors persisted as a parquet 'base table'."""
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(200, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": np.arange(200), "embedding": list(map(list, vecs))})
    base = str(tmp_path_factory.mktemp("emb") / "base")
    spark.createDataFrame(pdf).write.parquet(base)
    return base


def test_srp_index_answers_with_base_deleted(spark, emb_base, tmp_path):
    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    base_copy = str(tmp_path / "base_copy")
    shutil.copytree(emb_base, base_copy)
    probes = spark.read.parquet(base_copy).orderBy("vec_id").limit(5).collect()
    Q = [list(r["embedding"]) for r in probes]
    qids = [int(r["vec_id"]) for r in probes]

    cat.create_ann_index("e_srp", base_copy, kind="srp", n_bits=12)
    shutil.rmtree(base_copy)  # the proof: queries never resolve the base

    top = cat.ann_topk("e_srp", Q, k=1, query_ids=qids).collect()
    assert {(r["query_id"], r["vec_id"]) for r in top} == {(q, q) for q in qids}
    assert all(abs(r["cosine"] - 1.0) < 1e-9 for r in top)


def test_srp_index_bucket_filter_pushed_to_scan(spark, emb_base, tmp_path):
    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    cat.create_ann_index("e_srp", emb_base, kind="srp", n_bits=12)
    probes = spark.read.parquet(emb_base).orderBy("vec_id").limit(2).collect()
    out = cat.ann_topk("e_srp", [list(r["embedding"]) for r in probes], k=1,
                       query_ids=[int(r["vec_id"]) for r in probes])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(bucket" in plan  # prunes row groups at the scan


def test_ivf_index_partition_pruning_and_recovery(spark, emb_base, tmp_path):
    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    base_copy = str(tmp_path / "base_copy")
    shutil.copytree(emb_base, base_copy)
    probes = spark.read.parquet(base_copy).orderBy("vec_id").limit(4).collect()
    Q = [list(r["embedding"]) for r in probes]
    qids = [int(r["vec_id"]) for r in probes]

    cat.create_ann_index("e_ivf", base_copy, kind="ivf", n_lists=8)
    shutil.rmtree(base_copy)

    out = cat.ann_topk("e_ivf", Q, k=1, query_ids=qids, nprobe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_list" in plan
    got = out.collect()
    # nprobe=1 always finds the stored probe vector itself (its list IS the
    # nearest centroid of its normalized vector)
    assert {(r["query_id"], r["vec_id"]) for r in got} == {(q, q) for q in qids}


def test_repeat_ivf_index_read_launches_no_job(spark, emb_base, tmp_path):
    """An index read after the first uses the cached inferred schema: no
    schema-inference Spark job, the same schema (the ``_list`` partition
    column included) and the same rows."""
    import uuid

    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    cat.create_ann_index("e_ivf", emb_base, kind="ivf", n_lists=4)
    sc = spark.sparkContext
    gid = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        again = cat.ann_index("e_ivf")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(gid)) == []
    inferred = spark.read.parquet(os.path.join(cat.root, "ann", "e_ivf"))
    assert again.schema == inferred.schema and "_list" in again.columns
    key = lambda r: (r["vec_id"], r["_list"])  # noqa: E731
    assert sorted(map(key, again.collect())) == sorted(map(key, inferred.collect()))


def test_srp_topk_many_accepts_precomputed_signatures(spark, emb_base):
    df = spark.read.parquet(emb_base)
    probes = df.orderBy("vec_id").limit(3).collect()
    Q = [list(r["embedding"]) for r in probes]
    qids = [int(r["vec_id"]) for r in probes]
    sigs = srp_signatures(df, "embedding", "vec_id", n_bits=12)
    with_sigs = srp_topk_many(
        df, "embedding", "vec_id", Q, k=2, n_bits=12, query_ids=qids, signatures=sigs
    ).collect()
    fresh = srp_topk_many(df, "embedding", "vec_id", Q, k=2, n_bits=12, query_ids=qids).collect()
    key = lambda r: (r["query_id"], r["vec_id"], round(r["cosine"], 12))  # noqa: E731
    assert sorted(map(key, with_sigs)) == sorted(map(key, fresh))


def test_ann_catalog_lifecycle(spark, emb_base, tmp_path):
    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    cat.create_ann_index("a", emb_base, kind="srp", n_bits=10)
    cat.create_ann_index("a", emb_base, kind="srp", n_bits=12, overwrite=True)
    listed = cat.list_ann_indexes().collect()
    assert len(listed) == 1 and listed[0]["n_bits"] == 12  # newest wins
    assert cat.ann_meta("a")["kind"] == "srp"
    assert cat.ann_index("a").count() == 200
    cat.drop_ann_index("a")
    assert not cat.ann_exists("a")
    assert cat.list_ann_indexes().count() == 0
    with pytest.raises(ValueError, match="unknown ANN index"):
        cat.ann_index("a")


def test_near_dup_pairs_accept_precomputed_signatures(spark, emb_base):
    """Embedding near-dup with persisted signature tables equals the
    fresh-signature run exactly (no corpus signature pass on repeats)."""
    from sketchlib.spark.ann import embedding_near_dup_pairs

    df = spark.read.parquet(emb_base)
    # inject one exact duplicate pair so output is non-trivial
    dup = df.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(9000))
    d2 = df.unionByName(dup)
    sigs = [
        srp_signatures(d2, "embedding", "vec_id", n_bits=10, seed=31 + 101 * t)
        for t in range(3)
    ]
    fresh = embedding_near_dup_pairs(
        d2, "embedding", "vec_id", threshold=0.99, n_bits=10, n_tables=3
    ).collect()
    reused = embedding_near_dup_pairs(
        d2, "embedding", "vec_id", threshold=0.99, n_bits=10, n_tables=3, signatures=sigs
    ).collect()
    key = lambda rs: sorted((r["id_a"], r["id_b"]) for r in rs)  # noqa: E731
    assert key(fresh) == key(reused)
    assert (0, 9000) in key(reused)

    with pytest.raises(ValueError, match="one table per"):
        embedding_near_dup_pairs(
            d2, "embedding", "vec_id", n_tables=3, signatures=sigs[:2]
        )


def test_ann_index_refresh(spark, tmp_path):
    """Index maintenance on append: SRP refresh buckets only the new files
    (content-keyed — same (id, bucket) set as a full rebuild); IVF refresh
    assigns new vectors to the frozen centroids and the appended vector is
    still self-recovered (its list is its nearest centroid = probe #1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(200, 16)).astype(np.float64)

    def write_part(path, lo, hi):
        pq.write_table(
            pa.table({
                "vec_id": np.arange(lo, hi),
                "embedding": [list(map(float, v)) for v in vecs[lo:hi]],
            }),
            path,
        )

    base = str(tmp_path / "emb")
    os.makedirs(base)
    write_part(os.path.join(base, "a.parquet"), 0, 120)

    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    cat.create_ann_index("r_srp", base, kind="srp", n_bits=12)
    cat.create_ann_index("r_ivf", base, kind="ivf", n_lists=8)
    assert cat.refresh_ann_index("r_srp") == {"new_files": 0, "rows_added": 0}

    write_part(os.path.join(base, "b.parquet"), 120, 200)
    assert cat.refresh_ann_index("r_srp") == {"new_files": 1, "rows_added": 80}
    stats_ivf = cat.refresh_ann_index("r_ivf")
    assert stats_ivf == {"new_files": 1, "rows_added": 80}

    # SRP: refreshed index holds EXACTLY what a from-scratch rebuild holds
    cat.create_ann_index("full", base, kind="srp", n_bits=12)
    ref = {(r["vec_id"], r["bucket"]) for r in cat.ann_index("r_srp").collect()}
    full = {(r["vec_id"], r["bucket"]) for r in cat.ann_index("full").collect()}
    assert ref == full and len(ref) == 200

    # both kinds self-recover a probe from the APPENDED half
    q = [list(map(float, vecs[150]))]
    for name in ("r_srp", "r_ivf"):
        top = cat.ann_topk(name, q, k=1, query_ids=[150]).collect()
        assert [(r["query_id"], r["vec_id"]) for r in top] == [(150, 150)], name

    # covered-file deletion breaks the append-only contract
    os.remove(os.path.join(base, "a.parquet"))
    with pytest.raises(ValueError, match="cannot subtract"):
        cat.refresh_ann_index("r_srp")


def test_ann_ddl_lifecycle(spark, emb_base, tmp_path):
    """ANN registry through SQL strings only: CREATE ANN INDEX builds and
    registers, SHOW lists it, probes answer from it, REFRESH no-ops on an
    unchanged dir, DROP removes it."""
    from sketchlib.sql import approx_sql

    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    approx_sql(
        spark,
        f"CREATE ANN INDEX e FROM {emb_base} KIND srp ON embedding ID vec_id BITS 12",
        catalog=cat,
    ).collect()
    listed = {r["name"] for r in approx_sql(spark, "SHOW ANN INDEXES", catalog=cat).collect()}
    assert listed == {"e"}

    probe = spark.read.parquet(emb_base).orderBy("vec_id").limit(1).collect()[0]
    top = cat.ann_topk("e", [list(probe["embedding"])], k=1, query_ids=[0]).collect()
    assert [(r["query_id"], r["vec_id"]) for r in top] == [(0, 0)]

    ref = approx_sql(spark, "REFRESH ANN INDEX e", catalog=cat).collect()[0]
    assert ref["new_files"] == 0

    out = approx_sql(spark, "DROP ANN INDEX e", catalog=cat).collect()[0]
    assert out["dropped"] is True and not cat.ann_exists("e")


def test_ann_recall_metric(spark):
    """ann_recall: perfect agreement -> 1.0; a query with half the truth
    -> 0.5; a query absent from the approx result -> 0.0, never dropped."""
    from pyspark.sql import Row

    from sketchlib.spark.ann import ann_recall

    exact = spark.createDataFrame([
        Row(query_id=0, vec_id=i) for i in range(4)
    ] + [Row(query_id=1, vec_id=i) for i in range(4)]
      + [Row(query_id=2, vec_id=i) for i in range(4)])
    approx = spark.createDataFrame(
        [Row(query_id=0, vec_id=i) for i in range(4)]          # perfect
        + [Row(query_id=1, vec_id=i) for i in (0, 1, 9, 8)]    # half right
    )                                                          # q2 missing
    out = {r["query_id"]: r for r in ann_recall(approx, exact).collect()}
    assert out[0]["recall"] == 1.0
    assert out[1]["recall"] == 0.5
    assert out[2]["recall"] == 0.0 and out[2]["n_hit"] == 0


def test_large_probe_batch_gated_and_fast(spark, tmp_path):
    """VERDICT r4 #3: a 10³-query × 17-probe batch yields ~10⁴ distinct
    bucket literals, and the pushed In() cost Catalyst ~9 s of planning per
    statement (vs ~3 s execution). Above _MAX_IN_LITERALS the filter is
    dropped — the broadcast join alone does membership — so the whole
    batch must now BUILD+RUN in seconds, and the gated plan must return
    exactly what the pushed-IN plan returns for the same queries."""
    import time

    rng = np.random.default_rng(11)
    n, d = 20000, 32
    vecs = rng.normal(size=(n, d)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": np.arange(n), "embedding": list(map(list, vecs))})
    base = str(tmp_path / "base")
    spark.createDataFrame(pdf).write.parquet(base)
    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    cat.create_ann_index("big", base, kind="srp", n_bits=16, seed=31)

    Q = vecs[:1000].astype(np.float64)
    from sketchlib.spark.ann import _MAX_IN_LITERALS, srp_probe_rows

    n_lit = len({b for _, b in srp_probe_rows(Q, list(range(len(Q))), 16, 31, True)})
    assert n_lit > _MAX_IN_LITERALS  # the batch actually exercises the gate

    # deterministic gate check (host-load-independent): above the literal
    # cap the scan must carry NO pushed In() on bucket; below it, it must
    big_plan = (
        cat.ann_topk("big", Q, k=3, multiprobe=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "In(bucket" not in big_plan
    small_plan = (
        cat.ann_topk("big", Q[:2], k=3, multiprobe=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "In(bucket" in small_plan

    cat.ann_topk("big", Q[:2], k=3).collect()  # warm up Spark paths
    t0 = time.perf_counter()
    rows = cat.ann_topk("big", Q, k=3, multiprobe=True).collect()
    dt = time.perf_counter() - t0
    assert len(rows) > 0
    # belt only — generous bound so host noise can't flake it (the gated
    # batch measured ~3 s; the UNgated path measured ~12 s of planning
    # alone, so a regression still trips this)
    assert dt < 60.0, f"gated 1000-query batch took {dt:.1f}s (planning regression?)"

    # equivalence: the small-batch (pushed-IN) answer for a query subset
    # must match the large-batch (gated) answer for those same queries
    small = cat.ann_topk("big", Q[:5], k=3, multiprobe=True).collect()
    big_sub = [(r["query_id"], r["vec_id"]) for r in rows if r["query_id"] < 5]
    assert sorted(big_sub) == sorted((r["query_id"], r["vec_id"]) for r in small)

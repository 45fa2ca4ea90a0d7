"""Sketch catalog (A2/A3/A5 analogs) + sketch-level union (A17)."""

import numpy as np
import pytest

from sketchlib.spark import SketchSpec
from sketchlib.spark.catalog import SketchCatalog
from sketchlib.spark.query import estimates_df, union_estimate

SPECS = [
    SketchSpec("hll_doc", "hll", "doc_id", {"p": 12}),
    SketchSpec("kll_ntok", "kll", "n_tok", {"k": 200}),
]


def test_create_list_query_drop(spark, seq_tiny_dir, tmp_path):
    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    cat.create("tiny", seq_tiny_dir, SPECS, group_by="source")
    assert cat.exists("tiny")

    listed = cat.list().collect()
    assert len(listed) == 1 and listed[0]["name"] == "tiny"
    assert listed[0]["rows"] == 2000
    assert listed[0]["n_states"] == 10  # 5 sources x 2 sketches

    # A5: answer from persisted states only — no base-table access
    est = estimates_df(spark, cat.states("tiny"), "hll_doc").toPandas()
    assert set(est["group"]) == {"web", "books", "code", "wiki", "forums"}

    with pytest.raises(ValueError, match="already exists"):
        cat.create("tiny", seq_tiny_dir, SPECS)
    cat.create("tiny", seq_tiny_dir, SPECS[:1], overwrite=True)
    assert cat.states("tiny").count() == 5

    cat.drop("tiny")
    assert not cat.exists("tiny")
    assert cat.list().count() == 0
    with pytest.raises(ValueError, match="unknown sketch set"):
        cat.states("tiny")


def test_union_estimate_equals_global_sketch(spark, seq_tiny_dir):
    """Merging per-group states == sketching the whole table (set-union law)."""
    from sketchlib.spark import build_sketches

    df = spark.read.parquet(seq_tiny_dir)
    per_group = build_sketches(df, SPECS[:1], group_by="source")
    est_union, rse = union_estimate(per_group, "hll_doc")
    whole = build_sketches(df, SPECS[:1], group_by=None)
    from sketchlib.spark.query import load_states

    est_whole, _ = load_states(whole)[("", "hll_doc")].estimate()
    assert est_union == pytest.approx(est_whole)  # identical registers
    assert abs(est_union - 2000) / 2000 <= 3 * rse

    partial = union_estimate(per_group, "hll_doc", groups=["web", "books"])[0]
    assert partial < est_union


def test_io_shim_parquet_and_iceberg_gate(spark, seq_tiny_dir):
    from sketchlib.spark.io import has_iceberg, read_input

    df = read_input(spark, seq_tiny_dir)
    assert df.count() == 2000
    if not has_iceberg(spark):  # this sandbox: no connector jar
        with pytest.raises(RuntimeError, match="Iceberg connector"):
            read_input(spark, "iceberg:db.tbl")


def test_intersection_estimate_from_sketches(spark, seq_tiny_dir):
    """|A ∩ B| of token vocabularies from HLL+MinHash states vs exact."""
    from sketchlib.spark import build_sketches
    from sketchlib.spark.query import intersection_estimate

    df = spark.read.parquet(seq_tiny_dir)
    specs = [
        SketchSpec("hll_tok", "hll", "tokens", {"p": 14}),
        SketchSpec("mh_tok", "minhash", "tokens", {"r": 256}),
    ]
    states = build_sketches(df, specs, group_by="source")
    est, bound = intersection_estimate(states, "hll_tok", "mh_tok", "books", "web")

    import duckdb

    con = duckdb.connect()
    exact = con.execute(
        f"""
        WITH a AS (SELECT DISTINCT unnest(tokens) t FROM read_parquet('{seq_tiny_dir}/*/*.parquet', hive_partitioning=1) WHERE source='books'),
             b AS (SELECT DISTINCT unnest(tokens) t FROM read_parquet('{seq_tiny_dir}/*/*.parquet', hive_partitioning=1) WHERE source='web')
        SELECT count(*) FROM a JOIN b USING (t)
        """
    ).fetchone()[0]
    assert abs(est - exact) / exact <= 4 * bound, (est, exact, bound)


def test_exact_rescore_topk_matches_true_topk(spark, seq_tiny_dir):
    """Hybrid CM→exact rescoring returns the TRUE top-k (not an estimate)."""
    import duckdb

    from sketchlib.spark import build_sketches
    from sketchlib.spark.query import exact_rescore_topk

    df = spark.read.parquet(seq_tiny_dir)
    states = build_sketches(
        df, [SketchSpec("cm_tok", "cm", "tokens", {"eps": 1e-4, "delta": 0.01})], group_by="source"
    )
    got = exact_rescore_topk(df, states, "cm_tok", k=5).toPandas()

    con = duckdb.connect()
    want = con.execute(
        f"""
        SELECT source AS "group", tok AS token, c AS exact_count FROM (
          SELECT source, tok, count(*) c,
                 row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, tok) rn
          FROM (SELECT source, unnest(tokens) tok
                FROM read_parquet('{seq_tiny_dir}/*/*.parquet', hive_partitioning=1))
          GROUP BY source, tok
        ) WHERE rn <= 5
        """
    ).fetchdf()
    g = got.sort_values(["group", "token"]).reset_index(drop=True)
    w = want.sort_values(["group", "token"]).reset_index(drop=True)
    assert len(g) == len(w) == 25
    assert (g["token"].to_numpy() == w["token"].to_numpy()).all()
    assert (g["exact_count"].to_numpy() == w["exact_count"].to_numpy()).all()


def test_difference_estimate_from_sketches(spark, seq_tiny_dir):
    import duckdb

    from sketchlib.spark import build_sketches
    from sketchlib.spark.query import difference_estimate

    df = spark.read.parquet(seq_tiny_dir)
    specs = [
        SketchSpec("hll_tok", "hll", "tokens", {"p": 14}),
        SketchSpec("mh_tok", "minhash", "tokens", {"r": 256}),
    ]
    states = build_sketches(df, specs, group_by="source")
    est, bound = difference_estimate(states, "hll_tok", "mh_tok", "web", "books")
    con = duckdb.connect()
    exact = con.execute(
        f"""
        WITH a AS (SELECT DISTINCT unnest(tokens) t FROM read_parquet('{seq_tiny_dir}/*/*.parquet', hive_partitioning=1) WHERE source='web'),
             b AS (SELECT DISTINCT unnest(tokens) t FROM read_parquet('{seq_tiny_dir}/*/*.parquet', hive_partitioning=1) WHERE source='books')
        SELECT count(*) FROM a ANTI JOIN b USING (t)
        """
    ).fetchone()[0]
    assert abs(est - exact) <= 4 * bound, (est, exact, bound)


def test_list_returns_newest_registration_after_overwrite(spark, tmp_path, seq_tiny_dir):
    """The append-only log holds both registrations after overwrite=True;
    list() must return the newest (max built_unix), not an arbitrary row."""
    import json

    from sketchlib.spark.catalog import SketchCatalog

    cat = SketchCatalog(spark, str(tmp_path / "cat_ow"))
    cat.create("s", seq_tiny_dir, [SketchSpec("h", "hll", "doc_id", {"p": 10})], group_by="source")
    cat.create(
        "s", seq_tiny_dir, [SketchSpec("h", "hll", "doc_id", {"p": 12})],
        group_by="source", overwrite=True,
    )
    rows = cat.list().collect()
    assert len(rows) == 1
    assert json.loads(rows[0]["specs_json"])[0]["params"]["p"] == 12


def test_create_sample_and_query_without_base(spark, tmp_path, seq_tiny_dir):
    """A2 literal: persisted uniform + universe scrambles answer the sampling
    aggregates with the base table DELETED — the Verdict product shape."""
    import shutil

    from sketchlib.sql import approx_sql
    from sketchlib.spark.catalog import SketchCatalog

    base = str(tmp_path / "base_s")
    shutil.copytree(seq_tiny_dir, base)
    cat = SketchCatalog(spark, str(tmp_path / "cat_s"))
    cat.create_sample("u", base, kind="uniform", ratio=0.5, seed=7)
    cat.create_sample("d", base, kind="universe", ratio=0.5, on="doc_id", seed=7)

    # exact answers captured BEFORE deleting the base
    import pyspark.sql.functions as F

    df = spark.read.parquet(base)
    exact = {
        r["source"]: (r["n"], r["s"])
        for r in df.groupBy("source").agg(
            F.count("*").alias("n"), F.sum("n_tok").alias("s")
        ).collect()
    }
    exact_distinct = df.select(F.countDistinct("doc_id")).collect()[0][0]
    shutil.rmtree(base)

    out = approx_sql(
        spark, "SELECT APPROX_SUM(n_tok, 0.5) FROM whatever GROUP BY source",
        catalog=cat, catalog_key="u",
    ).toPandas()
    for _, r in out.iterrows():
        n, s = exact[r["source"]]
        assert abs(r["est_sum"] - s) <= 2 * r["sum_err"]  # z=1.96 default, allow 2x

    cd = approx_sql(
        spark, "SELECT APPROX_COUNT_DISTINCT(doc_id) FROM whatever",
        catalog=cat, catalog_key="d",
    ).collect()[0]
    assert abs(cd["est_distinct"] - exact_distinct) <= 2 * cd["distinct_err"]

    # mismatches raise: wrong kind for the aggregate
    import pytest as _pytest

    with _pytest.raises(ValueError, match="uniform or stratified sample"):
        approx_sql(spark, "SELECT APPROX_SUM(n_tok, 0.5) FROM t GROUP BY source",
                   catalog=cat, catalog_key="d")
    with _pytest.raises(ValueError, match="universe sample"):
        approx_sql(spark, "SELECT APPROX_COUNT_DISTINCT(doc_id) FROM t",
                   catalog=cat, catalog_key="u")

    meta = cat.sample_meta("u")
    assert meta["kind"] == "uniform" and meta["ratio"] == 0.5
    assert {r["name"] for r in cat.list_samples().collect()} == {"u", "d"}
    cat.drop_sample("u")
    assert not cat.sample_exists("u") and cat.sample_exists("d")


def test_stratified_persisted_sample_served_by_sql(spark, tmp_path, seq_tiny_dir):
    """Third Verdict sample type persisted + served: small groups at
    fraction 1.0 answer EXACTLY (err 0), the hot group within CI."""
    import pyspark.sql.functions as F

    from sketchlib.sql import approx_sql
    from sketchlib.spark.catalog import SketchCatalog

    df = spark.read.parquet(seq_tiny_dir)
    fracs = {"web": 0.3, "books": 1.0, "code": 1.0, "wiki": 1.0, "forums": 1.0}
    cat = SketchCatalog(spark, str(tmp_path / "cat_st"))
    cat.create_sample("st", seq_tiny_dir, kind="stratified", on="source", fractions=fracs, seed=7)

    exact = {
        r["source"]: r["n"] for r in df.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    out = approx_sql(
        spark, "SELECT APPROX_COUNT(0.0) FROM t GROUP BY source", catalog=cat, catalog_key="st"
    ).toPandas()
    for _, r in out.iterrows():
        if fracs[r["source"]] == 1.0:
            assert r["est_count"] == exact[r["source"]] and r["count_err"] == 0.0
        else:
            assert abs(r["est_count"] - exact[r["source"]]) <= 2 * r["count_err"]

    # GROUP BY must match the stratification key
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keyed by"):
        approx_sql(spark, "SELECT APPROX_COUNT(0.0) FROM t GROUP BY lang",
                   catalog=cat, catalog_key="st")


def test_incremental_refresh(spark, tmp_path):
    """catalog.refresh sketches ONLY files appended since the last build and
    merges them in: byte-identical to a from-scratch rebuild for the
    order-free sketches (HLL register-max, CM counter-add), estimate-level
    identical for KLL; covered-file deletion raises (states can't subtract)."""
    import glob
    import os
    import shutil as sh

    import numpy as np

    from sketchlib.data.gen import write_sequences
    from sketchlib.spark.build import SketchSpec
    from sketchlib.spark.catalog import SketchCatalog
    from sketchlib.spark.query import quantiles_df
    from sketchlib.spark.scan import build_sketches_from_parquet
    from sketchlib.sql import approx_sql

    d = str(tmp_path / "seq")
    write_sequences(d, 2000, seed=1)
    specs = [
        SketchSpec("h", "hll", "doc_id", {"p": 12}),
        SketchSpec("c", "cm", "tokens", {"eps": 1e-3, "delta": 0.01}),
        SketchSpec("k", "kll", "n_tok", {"k": 200}),
    ]
    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    cat.create("s", d, specs, group_by="source")
    assert cat.refresh("s") == {"new_files": 0, "rows_added": 0, "tokens_added": 0}

    d2 = str(tmp_path / "seq2")
    write_sequences(d2, 1000, seed=2)
    n_copied = 0
    for f in glob.glob(d2 + "/source=*/part-*.parquet"):
        rel = os.path.relpath(f, d2)
        dst = os.path.join(d, os.path.dirname(rel), "appended-" + os.path.basename(f))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        sh.copy(f, dst)
        n_copied += 1
    stats = cat.refresh("s")
    assert stats["new_files"] == n_copied
    assert stats["rows_added"] == 1000 and stats["tokens_added"] > 0

    full = build_sketches_from_parquet(spark, d, specs, group_by="source")
    full_pd, got_pd = full.toPandas(), cat.states("s").toPandas()
    fk = {(r["group"], r["sketch"]): bytes(r["state"]) for _, r in full_pd.iterrows()}
    gk = {(r["group"], r["sketch"]): bytes(r["state"]) for _, r in got_pd.iterrows()}
    assert set(fk) == set(gk)
    for (g, sk), st in fk.items():
        if sk in ("h", "c"):  # semilattice states: canonical bytes
            assert gk[(g, sk)] == st, f"{sk} state for {g} differs after refresh"
    qf = quantiles_df(spark, full, "k", [0.5, 0.9]).toPandas().sort_values(["group", "q"])
    qg = quantiles_df(spark, cat.states("s"), "k", [0.5, 0.9]).toPandas().sort_values(["group", "q"])
    assert np.allclose(qf["value"].values, qg["value"].values, rtol=0.05)

    # REFRESH SKETCHES through the SQL front door; second refresh is a no-op
    out = approx_sql(spark, "REFRESH SKETCHES s", catalog=cat).collect()[0]
    assert out["name"] == "s" and out["new_files"] == 0

    # deleting a covered file breaks the append-only contract
    victim = glob.glob(d + "/source=*/part-*.parquet")[0]
    os.remove(victim)
    with pytest.raises(ValueError, match="cannot subtract"):
        cat.refresh("s")


def test_sample_incremental_refresh(spark, tmp_path):
    """refresh_sample applies the registered sampling rule to ONLY the
    appended files and appends survivors: universe refresh is
    content-deterministic (exactly re-sampling the grown dir), uniform
    refresh keeps estimates within CI for the grown table, and REFRESH
    SAMPLE works through the SQL front door."""
    import glob
    import os
    import shutil as sh

    from pyspark.sql import functions as F

    from sketchlib.data.gen import write_sequences
    from sketchlib.spark.catalog import SketchCatalog
    from sketchlib.spark.sampling import universe_sample
    from sketchlib.sql import approx_sql

    d = str(tmp_path / "seq")
    write_sequences(d, 2000, seed=1)
    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    cat.create_sample("u", d, kind="uniform", ratio=0.5, seed=7)
    cat.create_sample("v", d, kind="universe", ratio=0.5, on="doc_id", seed=7)
    assert cat.refresh_sample("u") == {"new_files": 0, "rows_added": 0}

    d2 = str(tmp_path / "seq2")
    write_sequences(d2, 1000, seed=2)
    for f in glob.glob(d2 + "/source=*/part-*.parquet"):
        rel = os.path.relpath(f, d2)
        dst = os.path.join(d, os.path.dirname(rel), "appended-" + os.path.basename(f))
        sh.copy(f, dst)

    stats_u = cat.refresh_sample("u")
    assert stats_u["new_files"] > 0 and stats_u["rows_added"] > 0
    stats_v = cat.refresh_sample("v")

    # universe: hash rule is content-keyed → refreshed sample row-set equals
    # re-sampling the grown dir from scratch
    grown = spark.read.parquet(d)
    expect = universe_sample(grown, "doc_id", 0.5, seed=7)
    got = cat.sample("v")
    assert got.count() == expect.count()
    assert got.select("doc_id").subtract(expect.select("doc_id")).count() == 0

    # uniform: estimates from the refreshed scramble cover the GROWN table
    est = approx_sql(
        spark, "SELECT APPROX_COUNT(0.5) FROM ignored", {"ignored": d},
        catalog=cat, catalog_key="u",
    ).collect()[0]
    n_exact = grown.count()
    assert abs(est["est_count"] - n_exact) <= est["count_err"] * (3.29 / 1.96)

    # SQL front door; second refresh is a no-op
    out = approx_sql(spark, "REFRESH SAMPLE v", catalog=cat).collect()[0]
    assert out["name"] == "v" and out["new_files"] == 0


def test_signature_registry_lifecycle(spark, tmp_path, seq_tiny_dir):
    """Signature tables get the full catalog lifecycle (VERDICT r4 #1):
    CREATE persists the (r, n_bands, seed) contract; REFRESH signs only
    appended files byte-identically to a rebuild; dedup_delta(catalog=...)
    reads the contract and REFUSES a conflicting explicit seed;
    append_signatures rejects rows whose shape breaks the contract."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from sketchlib.spark.dedup import dedup_delta, minhash_signatures
    from sketchlib.sql import approx_sql

    src = spark.read.parquet(seq_tiny_dir)
    data = str(tmp_path / "corpus")
    src.filter(F.xxhash64("doc_id") % 2 == 0).coalesce(2).write.parquet(data)
    cat = SketchCatalog(spark, str(tmp_path / "cat"))

    sigs = cat.create_signatures("s", data, r=64, n_bands=16, seed=9)
    meta = cat.sig_meta("s")
    assert (meta["r"], meta["n_bands"], meta["seed"]) == (64, 16, 9)
    assert sigs.count() == meta["rows"] > 0

    # refresh signs exactly the appended files, content-identically to a
    # fresh signing of those rows under the registered contract
    extra_dir = str(tmp_path / "extra")
    extra = src.filter(F.xxhash64("doc_id") % 2 != 0).limit(50).cache()
    n_extra = extra.count()
    extra.coalesce(1).write.parquet(extra_dir)
    for i, f in enumerate(sorted(glob.glob(extra_dir + "/part-*.parquet"))):
        shutil.copy(f, f"{data}/appended-{i:04d}.parquet")
    stats = cat.refresh_signatures("s")
    assert stats["new_files"] == 1 and stats["rows_added"] == n_extra
    want = minhash_signatures(extra, "tokens", "doc_id", r=64, n_bands=16, seed=9)
    got = cat.signatures("s").join(extra.select("doc_id"), "doc_id", "leftsemi")
    wp = {r["doc_id"]: (r["sig"], r["bands"]) for r in want.collect()}
    gp = {r["doc_id"]: (r["sig"], r["bands"]) for r in got.collect()}
    assert wp == gp
    assert cat.refresh_signatures("s") == {"new_files": 0, "rows_added": 0}

    # contract enforcement: conflicting seed refused, matching seed allowed
    delta = src.orderBy("doc_id").limit(20)
    with pytest.raises(ValueError, match="seed"):
        dedup_delta(delta, catalog=cat, catalog_key="s", seed=999)
    with pytest.raises(ValueError, match="existing_sigs"):
        dedup_delta(delta, minhash_signatures(delta, "tokens", "doc_id"),
                    catalog=cat, catalog_key="s")
    kept, kept_sigs = dedup_delta(delta, catalog=cat, catalog_key="s", seed=9)
    assert kept.count() == kept_sigs.count()

    # shape guard: appending signatures signed under a DIFFERENT contract raises
    bad = minhash_signatures(delta, "tokens", "doc_id", r=32, n_bands=8, seed=9)
    with pytest.raises(ValueError, match="registered with"):
        cat.append_signatures("s", bad)
    before = cat.sig_meta("s")["rows"]
    cat.append_signatures("s", kept_sigs)
    assert cat.sig_meta("s")["rows"] == before + kept_sigs.count()

    # SQL front door: SHOW lists it, DROP removes it, head-only claiming
    shown = approx_sql(spark, "SHOW SIGNATURES", catalog=cat).collect()
    assert [r["name"] for r in shown] == ["s"]
    out = approx_sql(spark, "DROP SIGNATURES s", catalog=cat).collect()[0]
    assert out["dropped"] is True and not cat.sig_exists("s")
    extra.unpersist()


def test_refresh_after_drop_refuses_resurrection(spark, tmp_path, seq_tiny_dir):
    """The append-only registry keeps a DROPPED artifact's stale row —
    refresh/append on it must refuse instead of silently resurrecting a
    PARTIAL table whose lineage claims full coverage (for signatures that
    would mean dedup_delta keeping every duplicate of the missing docs)."""
    import glob
    import shutil

    from sketchlib.spark.dedup import minhash_signatures

    src = spark.read.parquet(seq_tiny_dir)
    data = str(tmp_path / "corpus")
    src.limit(100).coalesce(1).write.parquet(data)
    cat = SketchCatalog(spark, str(tmp_path / "cat"))

    cat.create_signatures("s", data, r=32, n_bands=8, seed=3)
    sigs = minhash_signatures(src.limit(5), "tokens", "doc_id", r=32, n_bands=8, seed=3)
    cat.drop_signatures("s")
    with pytest.raises(ValueError, match="no data on disk"):
        cat.refresh_signatures("s")
    with pytest.raises(ValueError, match="no data on disk"):
        cat.append_signatures("s", sigs)

    cat.create_sample("v", data, kind="uniform", ratio=0.5, seed=3)
    cat.drop_sample("v")
    with pytest.raises(ValueError, match="no data on disk"):
        cat.refresh_sample("v")


def test_dedup_delta_catalog_column_conflicts_refused(spark, tmp_path, seq_tiny_dir):
    """The registry owns the WHOLE signing contract: explicitly-passed
    tokens_col/id_col that conflict with the registered ones raise (a
    silently overridden id column keys signatures on the wrong data)."""
    from sketchlib.spark.dedup import dedup_delta

    src = spark.read.parquet(seq_tiny_dir)
    data = str(tmp_path / "corpus")
    src.limit(80).coalesce(1).write.parquet(data)
    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    cat.create_signatures("s", data, r=32, n_bands=8, seed=3)
    delta = src.orderBy("doc_id").limit(10)
    with pytest.raises(ValueError, match="id_col"):
        dedup_delta(delta, catalog=cat, catalog_key="s", id_col="other_id")
    with pytest.raises(ValueError, match="tokens_col"):
        dedup_delta(delta, catalog=cat, catalog_key="s", tokens_col="other_toks")
    # matching explicit values still pass
    kept, _ = dedup_delta(
        delta, catalog=cat, catalog_key="s", tokens_col="tokens", id_col="doc_id"
    )
    assert kept.count() >= 0


def test_registry_row_cache_equivalence_and_invalidation(spark, tmp_path):
    """The cache-served row APIs (list_rows/list_sample_rows/_registry_meta)
    must equal the DataFrame registry views at every lifecycle step —
    create, overwrite, drop — including mutations made through a SECOND
    catalog instance on the same root (the listing fingerprint, not
    in-process state, is the invalidation key)."""
    from sketchlib.spark.catalog import SketchCatalog

    root = str(tmp_path / "cat")
    cat = SketchCatalog(spark, root)
    other = SketchCatalog(spark, root)
    df = spark.range(2000).selectExpr("CAST(id AS STRING) AS k", "id AS v")
    base = str(tmp_path / "t")
    df.write.parquet(base)

    def assert_synced():
        via_df = sorted(
            [r.asDict() for r in cat.list_samples().collect()], key=lambda r: r["name"]
        )
        via_rows = sorted(
            [r.asDict() for r in cat.list_sample_rows()], key=lambda r: r["name"]
        )
        assert via_rows == via_df

    assert cat.list_sample_rows() == []
    cat.create_sample("s1", base, kind="uniform", ratio=0.5)
    assert_synced()
    assert {r["name"] for r in cat.list_sample_rows()} == {"s1"}
    # warm the cache, then mutate through the OTHER instance
    other.create_sample("s2", base, kind="uniform", ratio=0.3)
    assert {r["name"] for r in cat.list_sample_rows()} == {"s1", "s2"}
    assert_synced()
    # overwrite: newest registration must win in both views
    cat.create_sample("s1", base, kind="uniform", ratio=0.7, overwrite=True)
    assert float(cat.sample_meta("s1")["ratio"]) == 0.7
    assert_synced()
    other.drop_sample("s2")
    assert {r["name"] for r in cat.list_sample_rows()} == {"s1"}
    assert_synced()
    # sketch-set registry shares the same machinery
    from sketchlib.spark.build import SketchSpec

    cat.create("st1", base, [SketchSpec("h", "hll", "k", {"p": 10})], group_by=None)
    assert {r["name"] for r in cat.list_rows()} == {"st1"}
    assert [r.asDict() for r in cat.list_rows()] == [
        r.asDict() for r in cat.list().collect()
    ]


def test_refresh_local_merge_matches_pipeline(spark, tmp_path, monkeypatch):
    """The driver-local refresh merge (r6: collect delta partials + pyarrow
    read/write, no merge Exchange) must produce BYTE-IDENTICAL state tables
    to the Spark-pipeline path — same canonical (part_id, state bytes)
    merge order — and the fallback must engage when the estimate overflows
    the byte budget."""
    import glob
    import os
    import shutil as sh

    from sketchlib.data.gen import write_sequences
    from sketchlib.spark.build import SketchSpec
    from sketchlib.spark.catalog import SketchCatalog

    specs = [
        SketchSpec("h", "hll", "doc_id", {"p": 12}),
        SketchSpec("c", "cm", "tokens", {"eps": 1e-3, "delta": 0.01}),
        SketchSpec("k", "kll", "n_tok", {"k": 200}),
    ]
    d = str(tmp_path / "seq")
    write_sequences(d, 2000, seed=5)
    d2 = str(tmp_path / "delta")
    write_sequences(d2, 800, seed=6)

    def build_and_refresh(root, budget):
        cat = SketchCatalog(spark, root)
        monkeypatch.setattr(SketchCatalog, "_LOCAL_REFRESH_BYTES", budget)
        dd = root + "_data"
        sh.copytree(d, dd)
        cat.create("s", dd, specs, group_by="source")
        for f in glob.glob(d2 + "/source=*/part-*.parquet"):
            rel = os.path.relpath(f, d2)
            dst = os.path.join(dd, os.path.dirname(rel), "ap-" + os.path.basename(f))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            sh.copy(f, dst)
        stats = cat.refresh("s")
        rows = {
            (r["group"], r["sketch"]): (bytes(r["state"]), r["n_items"], r["rows"], r["tokens"])
            for r in cat.states("s").collect()
        }
        return stats, rows

    s_local, local = build_and_refresh(str(tmp_path / "c1"), 256 << 20)
    s_pipe, pipe = build_and_refresh(str(tmp_path / "c2"), 0)  # force fallback
    assert s_local == s_pipe
    assert local == pipe  # byte-identical states, both routes


# --- driver-served statements (SketchCatalog.state_rows) -------------------

_ALL_SPECS = [
    SketchSpec("h", "hll", "k", {"p": 12}),
    SketchSpec("kv", "kmv", "k2", {"k": 256}),
    SketchSpec("c", "cm", "k", {"eps": 1e-3, "delta": 0.01}),
    SketchSpec("cw", "cm", "k", {"eps": 1e-3, "delta": 0.01}, weight="w"),
    SketchSpec("q", "kll", "x", {"k": 200}),
    SketchSpec("td", "tdigest", "x2", {"compression": 100}),
    SketchSpec("dd", "dd", "x", {"alpha": 0.01}),
    SketchSpec("f", "fd", "emb", {"d": 4, "ell": 4}),
    SketchSpec("mg", "mg", "k", {"eps": 0.01}),
    SketchSpec("mh", "minhash", "k", {"r": 128}),
]
_SIDE_SPECS = [
    SketchSpec("h", "hll", "k", {"p": 12}),
    SketchSpec("mh", "minhash", "k", {"r": 128}),
    SketchSpec("c", "cm", "k", {"eps": 1e-3, "delta": 0.01}),
    SketchSpec("q", "kll", "x", {"k": 200}),
]

# (function, statement): one statement per catalog-served function, plus the
# set operations and UNION ALL merges answered from two sets' states, the
# join-size estimate and grouping sets merged from the finest states
_SERVED = [
    ("APPROX_COUNT_DISTINCT", "SELECT APPROX_COUNT_DISTINCT(k) FROM t GROUP BY g"),
    ("APPROX_COUNT_DISTINCT", "SELECT APPROX_COUNT_DISTINCT(k2) FROM t GROUP BY g"),
    ("APPROX_TOPK", "SELECT APPROX_TOPK(k, 5) FROM t GROUP BY g"),
    ("APPROX_TOP_SUM", "SELECT APPROX_TOP_SUM(k, w, 5) FROM t GROUP BY g"),
    ("APPROX_PERCENTILE", "SELECT APPROX_PERCENTILE(x, 0.5, 0.9) FROM t GROUP BY g"),
    ("APPROX_PERCENTILE", "SELECT APPROX_PERCENTILE(x2, 0.25, 0.75) FROM t GROUP BY g"),
    ("APPROX_PERCENTILE", "SELECT APPROX_PERCENTILE(x, 0.5, rel_err=0.02) FROM t GROUP BY g"),
    ("APPROX_SPECTRUM", "SELECT APPROX_SPECTRUM(emb, 2) FROM t GROUP BY g"),
    ("APPROX_MAD", "SELECT APPROX_MAD(x) FROM t GROUP BY g"),
    ("APPROX_TRIMMED_MEAN", "SELECT APPROX_TRIMMED_MEAN(x, 0.1, 0.9) FROM t GROUP BY g"),
    ("APPROX_HISTOGRAM", "SELECT APPROX_HISTOGRAM(x, 4) FROM t GROUP BY g"),
    ("APPROX_FREQUENT", "SELECT APPROX_FREQUENT(k, 5) FROM t GROUP BY g"),
    ("setop", "SELECT APPROX_COUNT_DISTINCT(k) AS d FROM "
              "(SELECT k FROM t UNION SELECT k FROM t2)"),
    ("setop", "SELECT APPROX_COUNT_DISTINCT(k) AS d FROM "
              "(SELECT k FROM t INTERSECT SELECT k FROM t2)"),
    ("setop", "SELECT APPROX_COUNT_DISTINCT(k) AS d FROM "
              "(SELECT k, g FROM t EXCEPT SELECT k, g FROM t2) GROUP BY g"),
    ("unionall", "SELECT APPROX_TOPK(k, 5) FROM (SELECT k FROM t UNION ALL SELECT k FROM t2)"),
    ("unionall", "SELECT APPROX_PERCENTILE(x, 0.5, 0.9) AS p FROM "
                 "(SELECT x FROM t UNION ALL SELECT x FROM t2)"),
    ("join_rows", "SELECT APPROX_JOIN_ROWS(a.k, b.k) FROM t a, t2 b"),
    ("rollup", "SELECT APPROX_COUNT_DISTINCT(k) FROM t GROUP BY ROLLUP (g)"),
    ("rollup", "SELECT APPROX_PERCENTILE(x, 0.5, 0.9) FROM t GROUP BY ROLLUP (g)"),
    ("rollup", "SELECT APPROX_TOPK(k, 5) FROM t GROUP BY CUBE (g)"),
]
# ROLLUP/CUBE serve from states only under an explicit catalog key
_KEYS = {q: "all" for f, q in _SERVED if f == "rollup"}


@pytest.fixture(scope="module")
def served_catalog(spark, tmp_path_factory):
    """Two registered sets: ``all`` over t (every catalog-served kind) and
    ``side`` over t2 (overlapping keys, for set operations and merges),
    plus an ungrouped Count-Min set over each table for APPROX_JOIN_ROWS."""
    import pandas as pd

    root = tmp_path_factory.mktemp("served")
    rng = np.random.default_rng(11)
    n = 3000
    pdf = pd.DataFrame({
        "g": rng.choice(["a", "b", "c"], n),
        "k": np.minimum(rng.zipf(1.3, n), 5000).astype("int64"),
        "k2": rng.integers(0, 2000, n).astype("int64"),
        "w": rng.integers(1, 5, n).astype("int64"),
        "x": rng.lognormal(3.0, 0.7, n),
        "x2": rng.normal(0.0, 1.0, n),
        "emb": [r.astype(np.float32) for r in rng.normal(size=(n, 4))],
    })
    side = pd.DataFrame({
        "g": rng.choice(["a", "b", "d"], 1000),
        "k": rng.integers(0, 400, 1000).astype("int64"),
        "x": rng.lognormal(3.2, 0.5, 1000),
    })
    t, t2 = str(root / "t"), str(root / "t2")
    spark.createDataFrame(pdf).repartition(3).write.parquet(t)
    spark.createDataFrame(side).write.parquet(t2)
    cat = SketchCatalog(spark, str(root / "cat"))
    cat.create("all", t, _ALL_SPECS, group_by="g")
    cat.create("side", t2, _SIDE_SPECS, group_by="g")
    join_cm = [SketchSpec("jc", "cm", "k", {"eps": 1e-3, "delta": 0.01})]
    cat.create("join_t", t, join_cm, group_by=None)
    cat.create("join_t2", t2, join_cm, group_by=None)
    return cat, {"t": t, "t2": t2}


def _jobs_of(spark, fn):
    """(result, Spark job ids launched while running fn)."""
    import uuid

    sc = spark.sparkContext
    gid = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(gid))


def test_catalog_statements_answer_without_spark_jobs(spark, served_catalog):
    """Every catalog-served statement — each function of _CATALOG_KINDS,
    the set operations, the UNION ALL merges, APPROX_JOIN_ROWS and the
    grouping sets — answers
    from state rows read on the driver: the statement plus collecting its
    answer launches no Spark job."""
    from sketchlib.sql import _CATALOG_KINDS, approx_sql, explain_sql

    cat, tables = served_catalog
    assert {f for f, _ in _SERVED} >= set(_CATALOG_KINDS)
    for _, q in _SERVED:
        route = {r["property"]: r["value"] for r in explain_sql(
            spark, q, tables, catalog=cat, catalog_key=_KEYS.get(q)).collect()}
        assert "states" in route.get("route", route.get("plan", "")).lower(), (q, route)
        rows, jobs = _jobs_of(spark, lambda: approx_sql(
            spark, q, tables, catalog=cat, catalog_key=_KEYS.get(q)).collect())
        assert rows, q
        assert jobs == [], (q, jobs)


def test_catalog_driver_route_matches_spark_route(spark, served_catalog, monkeypatch):
    """Over the driver byte budget state_rows declines and the Spark route
    answers (the group budget declines the same way, see
    test_state_rows_filter_and_budgets); both routes give equal rows and
    schemas."""
    import sketchlib.spark.query as query
    from sketchlib.sql import approx_sql

    cat, tables = served_catalog

    def answer(q):
        df = approx_sql(spark, q, tables, catalog=cat, catalog_key=_KEYS.get(q))
        return df.schema, df.collect()

    fast = {q: answer(q) for _, q in _SERVED}
    monkeypatch.setattr(query, "_PARTIAL_PROBE_BYTES", 0)
    assert cat.state_rows("all", "h") is None
    for _, q in _SERVED:
        slow, jobs = _jobs_of(spark, lambda: answer(q))
        assert jobs, q  # the Spark route really ran
        assert slow == fast[q], q


def test_state_rows_filter_and_budgets(spark, served_catalog, monkeypatch):
    """state_rows returns the persisted bytes, keeps only the named
    sketches, and declines one group over the group budget."""
    import sketchlib.spark.query as query

    cat, _ = served_catalog
    every = cat.state_rows("all")
    assert len(every) == 3 * len(_ALL_SPECS)
    assert {r["sketch"] for r in cat.state_rows("all", "h")} == {"h"}
    two = cat.state_rows("all", ["h", "mh"])
    assert sorted((r["group"], r["sketch"]) for r in two) == sorted(
        (g, s) for g in "abc" for s in ("h", "mh")
    )
    assert {(r["group"], r["sketch"]): r["state"] for r in every} == {
        (r["group"], r["sketch"]): bytes(r["state"]) for r in cat.states("all").collect()
    }
    # exactly at the group budget still serves; one group over declines
    monkeypatch.setattr(query, "_DISTRIBUTED_THRESHOLD", 3)
    assert cat.state_rows("all", "h") is not None
    monkeypatch.setattr(query, "_DISTRIBUTED_THRESHOLD", 2)
    assert cat.state_rows("all", "h") is None
    with pytest.raises(ValueError, match="unknown sketch set"):
        cat.state_rows("nope")


def test_unionall_merge_leaves_cached_state_rows_intact(spark, served_catalog):
    """The UNION ALL merge relabels the state rows it is handed; the
    cached rows stay as persisted: merge and plain statements on the same
    sets, in turn, answer as a cold catalog does."""
    from sketchlib.sql import approx_sql

    cat, tables = served_catalog
    merge = "SELECT APPROX_TOPK(k, 5) FROM (SELECT k FROM t UNION ALL SELECT k FROM t2)"
    for q, key in (
        (merge, None),
        ("SELECT APPROX_TOPK(k, 5) FROM t GROUP BY g", "all"),
        (merge, None),
        ("SELECT APPROX_TOPK(k, 5) FROM t2 GROUP BY g", "side"),
        (merge, None),
    ):
        warm = approx_sql(spark, q, tables, catalog=cat, catalog_key=key).collect()
        cold = approx_sql(spark, q, tables, catalog=SketchCatalog(spark, cat.root),
                          catalog_key=key).collect()
        assert warm and warm == cold, q


def test_repeated_statement_opens_no_state_file(spark, served_catalog, monkeypatch):
    """A repeated catalog-served statement is answered from the cached
    state rows: it opens no parquet file and launches no Spark job."""
    import pyarrow.parquet as pq

    from sketchlib.sql import approx_sql

    cat, tables = served_catalog

    def run(q):
        return approx_sql(spark, q, tables, catalog=cat, catalog_key=_KEYS.get(q)).collect()

    for _, q in _SERVED:
        run(q)
    opened, real = [], pq.ParquetFile
    monkeypatch.setattr(pq, "ParquetFile", lambda *a, **kw: opened.append(a) or real(*a, **kw))
    for _, q in _SERVED:
        rows, jobs = _jobs_of(spark, lambda: run(q))
        assert rows and jobs == [] and opened == [], (q, jobs, opened)


def test_state_row_cache_under_concurrent_readers(spark, served_catalog, monkeypatch):
    """Threads sharing one catalog read four sets' rows while the byte
    bound (just over the largest set) keeps evicting: every read returns
    the persisted rows, and the rows held stay within the bound."""
    import os
    import sys
    import threading

    import pyarrow.parquet as pq

    import sketchlib.spark.query as query

    cat = SketchCatalog(spark, served_catalog[0].root)
    names = ["all", "side", "join_t", "join_t2"]
    want = {
        n: sorted(tuple(r.values()) for r in pq.read_table(
            os.path.join(cat.root, "states", n), columns=["group", "sketch", "state"]
        ).to_pylist())
        for n in names
    }
    sizes = [
        max(sum(len(r[2]) for r in want[n]),
            sum(os.path.getsize(os.path.join(cat.root, "states", n, f))
                for f in os.listdir(os.path.join(cat.root, "states", n))
                if f.endswith(".parquet") and not f.startswith((".", "_"))))
        for n in names
    ]
    bound = max(sizes)
    assert sum(sizes) > bound
    monkeypatch.setattr(query, "_PARTIAL_PROBE_BYTES", bound)
    errors = []

    def reader(i):
        try:
            for j in range(40):
                n = names[(i + j) % len(names)]
                got = cat.state_rows(n)
                if sorted((r["group"], r["sketch"], r["state"]) for r in got) != want[n]:
                    errors.append((n, "rows differ"))
        except Exception as e:  # reported through the assertion below
            errors.append(repr(e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert sum(e[2] for e in cat._cache.values()) <= bound


# one statement per sketch aggregate, over the columns the ``all`` set
# registers (the rel_err= percentile serves from its dd state)
_PARITY_ARGS = {
    "APPROX_COUNT_DISTINCT": "k",
    "APPROX_TOPK": "k, 5",
    "APPROX_TOP_SUM": "k, w, 5",
    "APPROX_PERCENTILE": "x, 0.5, 0.9",
    "APPROX_SPECTRUM": "emb, 2, ell=4",
    "APPROX_MAD": "x",
    "APPROX_TRIMMED_MEAN": "x, 0.1, 0.9",
    "APPROX_HISTOGRAM": "x, 4",
    "APPROX_FREQUENT": "k, 5",
}
_KEY_COLS = ("g", "group", "grouping_lvl")


def _answer_types(df):
    return [(c, t) for c, t in df.dtypes if c not in _KEY_COLS]


def test_sketch_routes_share_answer_schema(spark, served_catalog):
    """Each sketch aggregate answers with the same estimate/bound column
    names and Spark types on every route: the on-the-fly build, an
    explicit catalog key, the finest ROLLUP level from that key's states,
    and (for the mergeable heads) the UNION ALL state merge."""
    from sketchlib.sql import _CATALOG_KINDS, _MERGE_KINDS, approx_sql, explain_sql

    cat, tables = served_catalog
    assert set(_PARITY_ARGS) == set(_CATALOG_KINDS)
    for fn, a in _PARITY_ARGS.items():
        q = f"SELECT {fn}({a}) FROM t"
        fly = approx_sql(spark, q + " GROUP BY g", tables)
        keyed = approx_sql(spark, q + " GROUP BY g", tables, catalog=cat, catalog_key="all")
        rolled = approx_sql(spark, q + " GROUP BY ROLLUP (g)", tables,
                            catalog=cat, catalog_key="all")
        want = _answer_types(fly)
        assert _answer_types(keyed) == want, fn
        assert _answer_types(rolled) == want, fn
        assert rolled.where("grouping_lvl = 0").count() == keyed.count(), fn
        if fn in _MERGE_KINDS:
            col = a.split(",")[0]
            u = f"SELECT {fn}({a}) FROM (SELECT {col} FROM t UNION ALL SELECT {col} FROM t)"
            route = dict(explain_sql(spark, u, tables, catalog=cat).collect())
            assert route["statement_kind"] == "approx_unionall_merge", (fn, route)
            assert _answer_types(approx_sql(spark, u, tables, catalog=cat)) == want, fn
    rel = "SELECT APPROX_PERCENTILE(x, 0.5, rel_err=0.02) FROM t GROUP BY g"
    assert _answer_types(approx_sql(spark, rel, tables)) == _answer_types(
        approx_sql(spark, rel, tables, catalog=cat, catalog_key="all"))


@pytest.mark.parametrize("grouping", ["GROUP BY g", "GROUP BY ROLLUP (g)"])
def test_explicit_key_honours_count_distinct_rse(spark, served_catalog, grouping):
    """An explicit catalog key serves COUNT_DISTINCT only from a sketch
    achieving the statement's rse — stated as an argument or planned from
    a WITHIN contract — on the plain and the ROLLUP route alike; EXPLAIN
    reports the same refusal. The ``all`` set's HLL has p=12
    (rse = 1.04/64 ≈ 0.016)."""
    from sketchlib.sql import approx_sql

    cat, tables = served_catalog
    refused = [f"SELECT APPROX_COUNT_DISTINCT(k, 0.001) FROM t {grouping}"]
    if grouping == "GROUP BY g":  # ROLLUP takes no WITHIN tail
        refused.append("SELECT APPROX_COUNT_DISTINCT(k) FROM t GROUP BY g WITHIN 1% ERROR")
    for q in refused:
        with pytest.raises(ValueError, match="cannot achieve rse="):
            approx_sql(spark, q, tables, catalog=cat, catalog_key="all").collect()
    q = f"SELECT APPROX_COUNT_DISTINCT(k, 0.05) FROM t {grouping}"
    out = approx_sql(spark, q, tables, catalog=cat, catalog_key="all").collect()
    assert out and all(r["rse_bound"] == pytest.approx(1.04 / 64) for r in out)
    if grouping == "GROUP BY g":
        props = dict(approx_sql(
            spark, "EXPLAIN SELECT APPROX_COUNT_DISTINCT(k, 0.001) FROM t GROUP BY g",
            tables, catalog=cat, catalog_key="all").collect())
        assert props["route"].startswith("error") and "cannot achieve rse=" in props["error"]


@pytest.mark.parametrize("k", ["", ", 2.5", ", 0", ", -1"])
@pytest.mark.parametrize("route", ["on_the_fly", "catalog_key", "rollup"])
def test_topk_k_is_validated_on_every_route(spark, served_catalog, route, k):
    """APPROX_TOPK's k must be a positive integer on every route: a
    missing k, a fraction, zero and a negative k all raise a ValueError
    naming the argument (a negative k used to drop the last candidate)."""
    from sketchlib.sql import approx_sql

    cat, tables = served_catalog
    grouping = "GROUP BY ROLLUP (g)" if route == "rollup" else "GROUP BY g"
    q = f"SELECT APPROX_TOPK(k{k}) FROM t {grouping}"
    kw = {} if route == "on_the_fly" else {"catalog": cat, "catalog_key": "all"}
    with pytest.raises(ValueError, match=r"APPROX_TOPK (takes \(col, k|k argument)"):
        approx_sql(spark, q, tables, **kw).collect()


def test_explain_with_sketch_set_key_reports_execution_refusals(spark, served_catalog):
    """EXPLAIN with an explicit sketch-set key reports the error execution
    raises instead of a states route: no CM on the column, a rank_err no
    registered KLL achieves (the ``all`` set's KLL has k=200), and a
    multi-aggregate statement."""
    from sketchlib.sql import approx_sql

    cat, tables = served_catalog
    for q, msg in (
        ("SELECT APPROX_TOPK(x, 5) FROM t GROUP BY g", "holds no cm sketch"),
        ("SELECT APPROX_PERCENTILE(x, 0.5, rank_err=0.001) FROM t GROUP BY g",
         "cannot achieve rank_err="),
    ):
        props = dict(approx_sql(spark, "EXPLAIN " + q, tables, catalog=cat,
                                catalog_key="all").collect())
        assert props["route"] == "error — approx_sql would raise", (q, props)
        assert msg in props["error"], (q, props)
        with pytest.raises(ValueError, match=msg):
            approx_sql(spark, q, tables, catalog=cat, catalog_key="all")
    # a multi-aggregate statement takes no catalog_key at all
    q = "SELECT APPROX_COUNT_DISTINCT(k), APPROX_COUNT_DISTINCT(k2) FROM t GROUP BY g"
    props = dict(approx_sql(spark, "EXPLAIN " + q, tables, catalog=cat,
                            catalog_key="all").collect())
    assert "can't take catalog_key" in props["error"], props
    assert not any(k.endswith("route") for k in props), props
    with pytest.raises(ValueError, match="can't take catalog_key"):
        approx_sql(spark, q, tables, catalog=cat, catalog_key="all")


def test_explain_rollup_with_sketch_set_key_reports_execution_refusals(spark, served_catalog):
    """EXPLAIN of a ROLLUP/CUBE statement with an explicit sketch-set key
    applies execution's gates: states registered at another grain (the
    ungrouped ``join_t`` set), no serving sketch on the column, and a
    WHERE over pre-reduced states each report the error execution raises;
    a key that serves reports the states route."""
    from sketchlib.sql import approx_sql

    cat, tables = served_catalog
    for key, q, msg in (
        ("join_t", "SELECT APPROX_TOPK(x, 3) FROM t GROUP BY ROLLUP (g)", "FINEST grain"),
        ("all", "SELECT APPROX_TOPK(x, 3) FROM t GROUP BY CUBE (g)", "holds no cm sketch"),
        ("all", "SELECT APPROX_COUNT_DISTINCT(k) FROM t WHERE x > 1 GROUP BY ROLLUP (g)",
         "WHERE cannot be applied"),
    ):
        props = dict(approx_sql(spark, "EXPLAIN " + q, tables, catalog=cat,
                                catalog_key=key).collect())
        assert props["route"] == "error — approx_sql would raise", (q, props)
        assert msg in props["error"], (q, props)
        with pytest.raises(ValueError, match=msg):
            approx_sql(spark, q, tables, catalog=cat, catalog_key=key).collect()
    props = dict(approx_sql(spark, "EXPLAIN SELECT APPROX_TOPK(k, 3) FROM t GROUP BY ROLLUP (g)",
                            tables, catalog=cat, catalog_key="all").collect())
    assert props["route"].startswith("persisted_sketch_states") and props["artifact"] == "all"


def test_statement_after_refresh_sees_refreshed_states(spark, tmp_path):
    """A catalog-served statement issued right after refresh() answers from
    the refreshed states: its estimates equal a fresh build's over the
    grown directory (HLL states are merge-order free)."""
    import glob
    import os
    import shutil as sh

    from sketchlib.data.gen import write_sequences
    from sketchlib.spark.scan import build_sketches_from_parquet
    from sketchlib.sql import approx_sql

    d, d2 = str(tmp_path / "seq"), str(tmp_path / "delta")
    write_sequences(d, 1500, seed=3)
    write_sequences(d2, 700, seed=4)
    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    cat.create("s", d, SPECS, group_by="source")
    q = "SELECT APPROX_COUNT_DISTINCT(doc_id) FROM seq GROUP BY source"
    before = approx_sql(spark, q, {"seq": d}, catalog=cat, catalog_key="s").collect()
    for f in glob.glob(d2 + "/source=*/part-*.parquet"):
        rel = os.path.relpath(f, d2)
        sh.copy(f, os.path.join(d, os.path.dirname(rel), "ap-" + os.path.basename(f)))
    assert cat.refresh("s")["new_files"] > 0
    after, jobs = _jobs_of(spark, lambda: approx_sql(
        spark, q, {"seq": d}, catalog=cat, catalog_key="s").collect())
    assert jobs == []
    want = estimates_df(
        spark, build_sketches_from_parquet(spark, d, SPECS, group_by="source"), "hll_doc"
    ).collect()
    assert after == want
    assert after != before


def test_refresh_matches_fresh_build_where_merges_are_order_free(spark, tmp_path):
    """What refresh() does and does not promise against a fresh build:
    HLL and Bloom states are byte-identical, and the Count-Min counter
    table, total and top-10 answers match. The Count-Min candidate list is
    truncated to cand_cap in merge order, so its bytes may differ — a
    small cand_cap forces that truncation here."""
    import glob
    import os
    import shutil as sh

    from sketchlib.data.gen import write_sequences
    from sketchlib.sketches import deserialize
    from sketchlib.spark.scan import build_sketches_from_parquet

    specs = [
        SketchSpec("h", "hll", "doc_id", {"p": 12}),
        SketchSpec("b", "bloom", "tokens", {"m_bits": 1 << 16, "h": 5}),
        SketchSpec("c", "cm", "tokens", {"eps": 1e-3, "delta": 0.01, "cand_cap": 64}),
    ]
    d, d2 = str(tmp_path / "seq"), str(tmp_path / "delta")
    write_sequences(d, 1500, seed=8)
    write_sequences(d2, 700, seed=9)
    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    cat.create("s", d, specs, group_by="source")
    for f in glob.glob(d2 + "/source=*/part-*.parquet"):
        rel = os.path.relpath(f, d2)
        sh.copy(f, os.path.join(d, os.path.dirname(rel), "ap-" + os.path.basename(f)))
    cat.refresh("s")
    got = {(r["group"], r["sketch"]): r["state"] for r in cat.state_rows("s")}
    fresh = {
        (r["group"], r["sketch"]): bytes(r["state"])
        for r in build_sketches_from_parquet(spark, d, specs, group_by="source").collect()
    }
    assert set(got) == set(fresh)
    for key, blob in fresh.items():
        if key[1] in ("h", "b"):
            assert got[key] == blob, key
        else:
            a, b = deserialize(got[key]), deserialize(blob)
            assert len(a.cands) == len(b.cands) == 64  # the cap truncated
            assert np.array_equal(a.table, b.table) and a.total == b.total, key
            for x, y in zip(a.topk(10), b.topk(10)):
                assert np.array_equal(x, y), key


# --- refresh routes: delta sketched on the driver vs by the kernel job ------

_REFRESH_SPECS = [
    SketchSpec("h", "hll", "doc_id", {"p": 12}),
    SketchSpec("c", "cm", "tokens", {"eps": 1e-3, "delta": 0.01, "cand_cap": 64}),
    SketchSpec("k", "kll", "n_tok", {"k": 64}),
    SketchSpec("td", "tdigest", "n_tok", {"compression": 50}),
]


@pytest.fixture(scope="module")
def refresh_tables(tmp_path_factory):
    """A base table and a delta of many small files: 100-row chunks give
    one file per source per chunk, so the delta plans to more chunks than
    the session's 8 tasks and bins hold several files of one source."""
    from sketchlib.data.gen import write_sequences

    root = tmp_path_factory.mktemp("refresh_routes")
    base, delta = str(root / "base"), str(root / "delta")
    write_sequences(base, 1200, seed=21)
    write_sequences(delta, 900, seed=22, chunk=100)
    return base, delta


def _refreshed(spark, root, tables, monkeypatch, driver_bytes=None):
    """(refresh stats, {(group, sketch): state row}, Spark jobs the refresh
    launched) for a set created over a copy of the base table, then
    refreshed after the delta's files are appended to that copy."""
    import glob
    import os
    import shutil as sh

    base, delta = tables
    if driver_bytes is not None:
        monkeypatch.setattr(SketchCatalog, "_DRIVER_DELTA_BYTES", driver_bytes)
    data = root + "_data"
    sh.copytree(base, data)
    cat = SketchCatalog(spark, root)
    cat.create("s", data, _REFRESH_SPECS, group_by="source")
    for f in glob.glob(delta + "/source=*/part-*.parquet"):
        rel = os.path.relpath(f, delta)
        sh.copy(f, os.path.join(data, os.path.dirname(rel), "ap-" + os.path.basename(f)))
    stats, jobs = _jobs_of(spark, lambda: cat.refresh("s"))
    rows = {
        (r["group"], r["sketch"]): (bytes(r["state"]), r["n_items"], r["rows"], r["tokens"])
        for r in cat.states("s").collect()
    }
    return stats, rows, jobs


def _delta_chunks(tables):
    import glob

    from sketchlib.spark.scan import plan_chunks

    return plan_chunks(tables[1]), sorted(glob.glob(tables[1] + "/source=*/part-*.parquet"))


def test_refresh_driver_route_matches_kernel_job(spark, tmp_path, monkeypatch, refresh_tables):
    """A delta of at most one scan chunk is sketched on the driver, and its
    states are byte-identical to the kernel job's (the driver route forced
    off): the same LPT bins, each bin's files fed in chunks_df's order —
    KLL, t-digest and the capped Count-Min candidate list depend on it —
    under the same part_id."""
    from sketchlib.spark.scan import _bin_rows

    chunks, files = _delta_chunks(refresh_tables)
    n_tasks = spark.sparkContext.defaultParallelism
    assert len(chunks) > n_tasks
    assert sum(c.n_bytes for c in chunks) <= SketchCatalog._DRIVER_DELTA_BYTES
    # some bin reads two files of one source, in an order other than its
    # chunk ids' — so a changed feed order would change that bin's states
    bins = _bin_rows(chunks, n_tasks)
    assert any(
        len(b) != len({str(r[4]) for r in b}) and [r[0] for r in b] != sorted(r[0] for r in b)
        for b in bins
    )
    s_drv, drv, _ = _refreshed(spark, str(tmp_path / "drv"), refresh_tables, monkeypatch)
    s_job, job, jobs = _refreshed(
        spark, str(tmp_path / "job"), refresh_tables, monkeypatch, driver_bytes=-1
    )
    assert len(jobs) == 1  # the kernel; the merge stays on the driver
    assert s_drv == s_job and s_drv["new_files"] == len(files)
    assert drv == job


def test_small_delta_refresh_launches_no_spark_job(spark, tmp_path, monkeypatch, refresh_tables):
    """Refreshing a small append plans, sketches, merges and commits on
    the driver: no Spark job at all."""
    stats, rows, jobs = _refreshed(spark, str(tmp_path / "c"), refresh_tables, monkeypatch)
    assert stats["rows_added"] == 900 and rows
    assert jobs == []


def test_refresh_over_driver_budget_keeps_kernel_job(spark, tmp_path, monkeypatch, refresh_tables):
    """The driver budget is inclusive: a delta exactly at it is sketched on
    the driver, one byte over it launches the kernel job — and both give
    the same states."""
    chunks, _ = _delta_chunks(refresh_tables)
    total = sum(c.n_bytes for c in chunks)
    s_at, at, jobs_at = _refreshed(
        spark, str(tmp_path / "at"), refresh_tables, monkeypatch, driver_bytes=total
    )
    s_over, over, jobs_over = _refreshed(
        spark, str(tmp_path / "over"), refresh_tables, monkeypatch, driver_bytes=total - 1
    )
    assert jobs_at == [] and len(jobs_over) == 1
    assert s_at == s_over and at == over


# --- cached state rows: every change of a set reaches the next statement ---

_HLL_Q = "SELECT APPROX_COUNT_DISTINCT(doc_id) FROM seq GROUP BY source"


@pytest.mark.parametrize("change", ["driver_refresh_twice", "pipeline_refresh",
                                    "drop_and_recreate", "refresh_by_other_catalog"])
def test_served_statement_after_set_change_equals_fresh_build(
    spark, tmp_path, monkeypatch, refresh_tables, change
):
    """A catalog whose cache holds a set's rows answers the next statement
    after the set changes from the changed states: its HLL answers equal a
    fresh build's over the grown directory. The changes: two driver-route
    refreshes in a row (each writes a same-named part file into a swapped
    directory), a refresh through the Spark pipeline, a drop and re-create
    under the same name, and a refresh made through a second catalog on
    the same root (as another process would)."""
    import glob
    import os
    import shutil as sh

    from sketchlib.spark.scan import build_sketches_from_parquet
    from sketchlib.sql import approx_sql

    base, delta = refresh_tables
    data, root = str(tmp_path / "data"), str(tmp_path / "cat")
    sh.copytree(base, data)
    cat = SketchCatalog(spark, root)
    cat.create("s", data, _REFRESH_SPECS, group_by="source")
    if change == "pipeline_refresh":
        monkeypatch.setattr(SketchCatalog, "_LOCAL_REFRESH_BYTES", 0)
    writer = SketchCatalog(spark, root) if change == "refresh_by_other_catalog" else cat

    def served():
        return approx_sql(spark, _HLL_Q, {"seq": data}, catalog=cat, catalog_key="s").collect()

    files = sorted(glob.glob(delta + "/source=*/part-*.parquet"))
    rounds = [files[::2], files[1::2]] if change == "driver_refresh_twice" else [files]
    before = served()
    for part in rounds:
        for f in part:
            rel = os.path.relpath(f, delta)
            sh.copy(f, os.path.join(data, os.path.dirname(rel), "ap-" + os.path.basename(f)))
        if change == "drop_and_recreate":
            cat.drop("s")
            cat.create("s", data, _REFRESH_SPECS, group_by="source")
        else:
            assert writer.refresh("s")["new_files"] == len(part)
        if change == "driver_refresh_twice":
            sdir = os.path.join(root, "states", "s")
            assert [f for f in os.listdir(sdir) if f.endswith(".parquet")] == ["part-00000.parquet"]
        after = served()
        fresh = build_sketches_from_parquet(spark, data, _REFRESH_SPECS[:1], group_by="source")
        assert after == estimates_df(spark, fresh, "h").collect()
        assert after != before
        before = after


def test_repeat_sample_and_signature_reads_launch_no_job(spark, tmp_path, seq_tiny_dir):
    """A persisted sample or signature table is read with its cached
    schema: a repeat read launches no Spark job (a plain parquet read
    infers the schema with one), gives the inferred schema, and rows a
    refresh appends are read."""
    import glob
    import os
    import shutil as sh

    from sketchlib.data.gen import write_sequences

    data = str(tmp_path / "data")
    sh.copytree(seq_tiny_dir, data)
    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    cat.create_sample("u", data, kind="uniform", ratio=0.5, seed=7)
    cat.create_signatures("g", data, r=32, n_bands=8, seed=3)
    for read, sub in ((lambda: cat.sample("u"), "samples/u"),
                      (lambda: cat.signatures("g"), "signatures/g")):
        df, jobs = _jobs_of(spark, read)
        assert jobs == [], sub
        assert df.schema == spark.read.parquet(os.path.join(cat.root, sub)).schema
    n_before = cat.sample("u").count()
    extra = str(tmp_path / "extra")
    write_sequences(extra, 600, seed=12)
    for f in glob.glob(extra + "/source=*/part-*.parquet"):
        rel = os.path.relpath(f, extra)
        sh.copy(f, os.path.join(data, os.path.dirname(rel), "ap-" + os.path.basename(f)))
    assert cat.refresh_sample("u")["rows_added"] > 0
    assert cat.sample("u").count() == cat.sample_meta("u")["rows_sampled"] > n_before


def test_signature_refresh_counts_rows_from_footers(spark, tmp_path):
    """create_signatures and refresh_signatures register the table's row
    count from parquet footers: a 400-row table plus a 200-row append
    registers 600 rows, and the refresh launches only the delta read's
    schema inference and the append's write (the count re-read the whole
    table with three more jobs)."""
    import glob
    import os
    import shutil as sh

    from sketchlib.data.gen import write_sequences

    data, extra = str(tmp_path / "data"), str(tmp_path / "extra")
    write_sequences(data, 400, seed=21)
    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    cat.create_signatures("g", data, r=32, n_bands=8, seed=3)
    assert cat.sig_meta("g")["rows"] == 400
    write_sequences(extra, 200, seed=22)
    for f in glob.glob(extra + "/source=*/part-*.parquet"):
        rel = os.path.relpath(f, extra)
        sh.copy(f, os.path.join(data, os.path.dirname(rel), "ap-" + os.path.basename(f)))
    out, jobs = _jobs_of(spark, lambda: cat.refresh_signatures("g"))
    assert out["rows_added"] == 200
    assert cat.sig_meta("g")["rows"] == 600 == cat.signatures("g").count()
    assert len(jobs) == 2, jobs


# --- a refresh costs what its delta costs, and leaves the catalog warm ------

def _append_delta(data, delta, files=None):
    """Copy the delta's files (all, or ``files``) into ``data``; their paths there."""
    import glob
    import os
    import shutil as sh

    out = []
    for f in files or sorted(glob.glob(delta + "/source=*/part-*.parquet")):
        dst = os.path.join(data, os.path.dirname(os.path.relpath(f, delta)),
                           "ap-" + os.path.basename(f))
        sh.copy(f, dst)
        out.append(dst)
    return out


def _set_over_copy(spark, tmp_path, refresh_tables):
    """(catalog, data dir) of a set ``s`` created over a copy of the base."""
    import shutil as sh

    data = str(tmp_path / "data")
    sh.copytree(refresh_tables[0], data)
    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    cat.create("s", data, _REFRESH_SPECS, group_by="source")
    return cat, data


def _served(spark, cat, data):
    from sketchlib.sql import approx_sql

    return approx_sql(spark, _HLL_Q, {"seq": data}, catalog=cat, catalog_key="s").collect()


def test_refresh_and_next_statement_read_no_state_file(spark, tmp_path, monkeypatch, refresh_tables):
    """A driver-route refresh merges the old rows held by the state cache and
    seeds the cache with the table it wrote: neither the refresh nor the
    next served statement opens a file under states/, and that statement
    answers as a cold catalog does."""
    import os

    import pyarrow.parquet as pq

    cat, data = _set_over_copy(spark, tmp_path, refresh_tables)
    before = _served(spark, cat, data)  # warms the cache
    _append_delta(data, refresh_tables[1])
    states = os.path.join(cat.root, "states")
    opened = []
    real_file, real_table = pq.ParquetFile, pq.read_table

    def spy(real):
        def wrapped(src, *a, **kw):
            if str(src).startswith(states):
                opened.append((real.__name__, str(src)))
            return real(src, *a, **kw)
        return wrapped

    monkeypatch.setattr(pq, "ParquetFile", spy(real_file))
    monkeypatch.setattr(pq, "read_table", spy(real_table))
    assert cat.refresh("s")["new_files"] > 0
    after, jobs = _jobs_of(spark, lambda: _served(spark, cat, data))
    assert opened == [] and jobs == []
    monkeypatch.undo()
    assert after == _served(spark, SketchCatalog(spark, cat.root), data)
    assert after != before


def test_refresh_reads_footers_of_new_files_only(spark, tmp_path, monkeypatch, refresh_tables):
    """The refresh lists the input dir and reads one footer per NEW file;
    the new files' chunks and bins are those the whole dir's plan gives
    them, renumbered from 0."""
    from dataclasses import replace

    import pyarrow.parquet as pq

    from sketchlib.spark.catalog import _CATALOG_SCHEMA
    from sketchlib.spark.scan import _bin_rows, plan_chunks

    cat, data = _set_over_copy(spark, tmp_path, refresh_tables)
    added = _append_delta(data, refresh_tables[1])
    reg = cat._registry_meta("_sketch_catalog", _CATALOG_SCHEMA, "s", "sketch set")
    new, current, chunks = cat._lineage_new_files(reg, "sketch state", "")
    assert new == sorted(added)
    want = [replace(c, chunk_id=i)
            for i, c in enumerate(c for c in plan_chunks(data) if c.file in set(new))]
    assert chunks == want
    n_tasks = spark.sparkContext.defaultParallelism
    assert _bin_rows(chunks, n_tasks) == _bin_rows(want, n_tasks)
    assert current == {c.file for c in plan_chunks(data)}

    read, real = [], pq.read_metadata
    monkeypatch.setattr(pq, "read_metadata", lambda f, *a, **kw: read.append(f) or real(f, *a, **kw))
    assert cat.refresh("s")["new_files"] == len(added)
    assert sorted(read) == sorted(added)


def test_refresh_leaves_out_a_new_file_without_row_groups(spark, tmp_path, refresh_tables):
    """A new file with no row groups is neither new nor recorded: alone it
    refreshes nothing, and a later refresh records only the real files."""
    import glob
    import json
    import os

    import pyarrow.parquet as pq

    from sketchlib.spark.catalog import _CATALOG_SCHEMA

    cat, data = _set_over_copy(spark, tmp_path, refresh_tables)
    some = sorted(glob.glob(data + "/source=*/*.parquet"))[0]
    empty = os.path.join(os.path.dirname(some), "empty.parquet")
    pq.ParquetWriter(empty, pq.read_schema(some)).close()
    assert pq.read_metadata(empty).num_row_groups == 0
    assert cat.refresh("s") == {"new_files": 0, "rows_added": 0, "tokens_added": 0}
    added = _append_delta(data, refresh_tables[1])
    assert cat.refresh("s")["new_files"] == len(added)
    reg = cat._registry_meta("_sketch_catalog", _CATALOG_SCHEMA, "s", "sketch set")
    lineage = set(json.loads(reg["files_json"]))
    assert empty not in lineage and set(added) <= lineage


def test_registry_lookup_after_append_reads_one_log_file(spark, tmp_path, monkeypatch, refresh_tables):
    """After another catalog instance appends a registration row, a lookup
    reads the appended log file alone and sees the row; a log file
    rewritten under its own name is read again."""
    import os

    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    cat, data = _set_over_copy(spark, tmp_path, refresh_tables)
    other = SketchCatalog(spark, cat.root)
    log = os.path.join(cat.root, "_sketch_catalog")
    rows_before = cat.list_rows()[0]["rows"]
    _append_delta(data, refresh_tables[1])
    other.refresh("s")
    read, real = [], ds.dataset
    monkeypatch.setattr(ds, "dataset", lambda src, *a, **kw: read.append(src) or real(src, *a, **kw))
    [row] = cat.list_rows()
    assert row["rows"] == rows_before + 900
    newest = max(os.listdir(log))
    assert read == [os.path.join(log, newest)]
    monkeypatch.undo()
    assert [r.asDict() for r in cat.list().collect()] == [row.asDict()]

    # rewrite the newest log file under its own name with another count
    path = os.path.join(log, newest)
    t = pq.read_table(path)
    t = t.set_column(t.schema.get_field_index("rows"), "rows", pc.add(t["rows"], 1))
    pq.write_table(t, path + ".tmp")
    os.replace(path + ".tmp", path)
    assert cat.list_rows()[0]["rows"] == rows_before + 901


def test_driver_partials_keep_bin_order(spark, monkeypatch, refresh_tables):
    """The driver route sketches its bins on threads and returns their rows
    in bin order — the kernel job's collect() order — even when the first
    bin finishes last; the rows equal the job's except ``wall_ms``."""
    import time

    import sketchlib.spark.scan as scan

    chunks, _ = _delta_chunks(refresh_tables)
    n_tasks = spark.sparkContext.defaultParallelism

    def key(r):
        return tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
                     for k, v in r.items() if k != "wall_ms")

    want = [key(r.asDict()) for r in scan._chunk_partials(
        spark, chunks, _REFRESH_SPECS, "source", n_tasks).collect()]
    bins = scan._bin_rows(chunks, n_tasks)
    slow = {r[1] for r in bins[0]} - {r[1] for b in bins[1:] for r in b}
    real = scan._read_chunk_batches

    def read(file, *a, **kw):
        if file in slow:
            time.sleep(0.3)
        return real(file, *a, **kw)

    monkeypatch.setattr(scan, "_read_chunk_batches", read)
    got = [key(r) for r in scan._driver_partials(chunks, _REFRESH_SPECS, "source", n_tasks)]
    assert got == want


def test_concurrent_bin_error_propagates_and_keeps_old_states(
    spark, tmp_path, monkeypatch, refresh_tables
):
    """The driver route sketches its bins on several threads; a bin that
    raises fails the refresh with its error, and the pre-refresh states,
    registration and served answers stay."""
    import os
    import threading
    import time

    import sketchlib.spark.scan as scan

    cat, data = _set_over_copy(spark, tmp_path, refresh_tables)
    before, rows_before = _served(spark, cat, data), cat.state_rows("s")
    reg_before = cat.list_rows()
    bad = _append_delta(data, refresh_tables[1])[-1]
    threads, real = set(), scan._read_chunk_batches

    def read(file, *a, **kw):
        threads.add(threading.get_ident())
        time.sleep(0.05)
        if file == bad:
            raise RuntimeError("unreadable delta file")
        return real(file, *a, **kw)

    monkeypatch.setattr(scan, "_read_chunk_batches", read)
    with pytest.raises(RuntimeError, match="unreadable delta file"):
        cat.refresh("s")
    assert len(threads) > 1 and threading.get_ident() not in threads
    assert sorted(os.listdir(os.path.join(cat.root, "states"))) == ["s"]
    assert cat.list_rows() == reg_before
    assert cat.state_rows("s") == rows_before
    assert _served(spark, cat, data) == before
    assert _served(spark, SketchCatalog(spark, cat.root), data) == before


def test_refresh_seeds_cache_under_the_listing_it_wrote(spark, tmp_path, monkeypatch, refresh_tables):
    """The refresh seeds the cache under the listing of the dir it wrote;
    when another writer swaps in its own dir right after the refresh's
    swap, the next read serves what is on disk, not the refresh's rows."""
    import os
    import shutil as sh

    import pyarrow.parquet as pq

    cat, data = _set_over_copy(spark, tmp_path, refresh_tables)
    sdir = os.path.join(cat.root, "states", "s")
    theirs = str(tmp_path / "theirs")
    sh.copytree(sdir, theirs)  # the other writer's table: the pre-refresh states
    _append_delta(data, refresh_tables[1])
    real = os.rename

    def rename(src, dst, *a, **kw):
        real(src, dst, *a, **kw)
        if str(src).endswith("._refresh_tmp"):
            sh.rmtree(dst)
            sh.copytree(theirs, dst)

    monkeypatch.setattr(os, "rename", rename)
    cat.refresh("s")
    monkeypatch.undo()
    on_disk = pq.read_table(sdir, columns=["group", "sketch", "state"]).to_pylist()
    key = lambda r: (r["group"], r["sketch"])  # noqa: E731
    assert sorted(cat.state_rows("s"), key=key) == sorted(on_disk, key=key)
    assert _served(spark, cat, data) == _served(spark, SketchCatalog(spark, cat.root), data)

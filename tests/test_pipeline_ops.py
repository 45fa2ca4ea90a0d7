"""Tests for training-data pipeline operators: dedup (exact / MinHash-LSH /
SimHash / n-grams), Bloom file pruning, pyarrow-direct scan, ANN, text ops."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib.spark import SketchSpec, build_sketches
from sketchlib.spark.ann import brute_force_topk, srp_topk
from sketchlib.spark.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    minhash_signatures,
    simhash_candidates,
    simhash_df,
    with_token_ngrams,
)
from sketchlib.spark.prune import FilePruner, build_file_blooms
from sketchlib.spark.scan import build_sketches_from_parquet, plan_chunks
from sketchlib.spark.text import with_fingerprint, with_lang_guess, with_quality_score

TD = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# pyarrow-direct scan parity
# --------------------------------------------------------------------------

def test_parquet_scan_path_matches_mapinarrow(spark, seq_tiny_dir):
    specs = [
        SketchSpec("hll_doc", "hll", "doc_id", {"p": 12}),
        SketchSpec("cm_tok", "cm", "tokens", {"eps": 1e-3, "delta": 0.05}),
        SketchSpec("bloom_tok", "bloom", "tokens", {"m_bits": 1 << 16, "h": 5}),
    ]
    via_spark = build_sketches(spark.read.parquet(seq_tiny_dir), specs, group_by="source").toPandas()
    via_pyarrow = build_sketches_from_parquet(spark, seq_tiny_dir, specs, group_by="source").toPandas()
    a = {(r["group"], r["sketch"]): bytes(r["state"]) for _, r in via_spark.iterrows()}
    b = {(r["group"], r["sketch"]): bytes(r["state"]) for _, r in via_pyarrow.iterrows()}
    assert a.keys() == b.keys()
    for k in a:
        if k[1] == "cm_tok":
            from sketchlib.sketches import deserialize

            sa, sb = deserialize(a[k]), deserialize(b[k])
            assert (sa.table == sb.table).all() and sa.total == sb.total
        else:
            assert a[k] == b[k], k


def test_plan_chunks_covers_all_rows(spark, seq_small_dir):
    chunks = plan_chunks(seq_small_dir, target_bytes=1 << 20)
    files = {c.file for c in chunks}
    assert len(chunks) > len(files)  # the hot source must split into multiple chunks
    import pyarrow.parquet as pq

    total = sum(
        sum(pq.read_metadata(c.file).row_group(rg).num_rows for rg in range(c.rg_lo, c.rg_hi))
        for c in chunks
    )
    assert total == 20_000
    # no overlaps: each (file, rg) appears exactly once
    seen = set()
    for c in chunks:
        for rg in range(c.rg_lo, c.rg_hi):
            assert (c.file, rg) not in seen
            seen.add((c.file, rg))


# --------------------------------------------------------------------------
# Bloom file pruning (B8)
# --------------------------------------------------------------------------

def test_file_pruner_no_false_negatives_and_prunes(spark, seq_tiny_dir):
    df = spark.read.parquet(seq_tiny_dir)
    pruner = FilePruner(build_file_blooms(df, "tokens"))
    assert len(pruner.files) > 1
    # a token known to exist only in specific files: take a rare token
    rare = (
        df.select(F.explode("tokens").alias("t"))
        .groupBy("t")
        .count()
        .orderBy("count", "t")
        .first()["t"]
    )
    with_tok = df.withColumn("_f", F.input_file_name()).filter(F.array_contains("tokens", rare))
    true_files = {r["_f"] for r in with_tok.select("_f").distinct().collect()}
    surviving = set(pruner.files_maybe_containing([rare]))
    assert true_files <= surviving  # zero false negatives
    got = pruner.pruned_read(spark, [rare]).filter(F.array_contains("tokens", rare)).count()
    want = df.filter(F.array_contains("tokens", rare)).count()
    assert got == want
    # common token prunes nothing; absent token should prune a lot
    stats = pruner.stats([10**9 + 7])
    assert stats["surviving_files"] <= stats["total_files"]


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------

def test_exact_dedup(spark):
    docs = spark.read.parquet(f"{TD}/documents.parquet")
    doubled = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 10_000))
    kept = exact_dedup(doubled, "text", "doc_id")
    assert kept.count() == docs.count()
    assert kept.filter(F.col("doc_id") >= 10_000).count() == 0  # min-id wins


def test_minhash_lsh_finds_injected_duplicates(spark, seq_tiny_dir):
    df = spark.read.parquet(seq_tiny_dir).limit(300).cache()
    n = df.count()
    dup = df.withColumn("doc_id", F.concat(F.lit("zz_"), F.col("doc_id")))
    doubled = df.unionByName(dup)
    kept = minhash_lsh_dedup(doubled, "tokens", "doc_id", r=64, n_bands=16, threshold=0.9)
    assert kept.count() == n  # every injected exact-dup removed
    assert kept.filter(F.col("doc_id").startswith("zz_")).count() == 0


def test_minhash_signature_determinism(spark, seq_tiny_dir):
    df = spark.read.parquet(seq_tiny_dir).limit(100)
    a = {r["doc_id"]: tuple(r["sig"]) for r in minhash_signatures(df, "tokens", "doc_id", r=64, n_bands=16).collect()}
    b = {r["doc_id"]: tuple(r["sig"]) for r in minhash_signatures(df, "tokens", "doc_id", r=64, n_bands=16).collect()}
    assert a == b and len(a) == 100


def test_simhash_identical_rows_hamming_zero(spark, seq_tiny_dir):
    df = spark.read.parquet(seq_tiny_dir).limit(200).cache()
    dup = df.withColumn("doc_id", F.concat(F.lit("zz_"), F.col("doc_id")))
    sh = simhash_df(df.unionByName(dup), "tokens", "doc_id")
    pairs = simhash_candidates(sh, "doc_id", max_hamming=0).toPandas()
    injected = pairs[
        pairs.apply(lambda r: r["id_b"] == "zz_" + r["id_a"] or r["id_a"] == "zz_" + r["id_b"], axis=1)
    ]
    assert len(injected) == 200  # every duplicate found at hamming 0


def test_token_ngrams_jvm_side(spark, seq_tiny_dir):
    df = spark.read.parquet(seq_tiny_dir).limit(20)
    out = with_token_ngrams(df, "tokens", n=3).select("doc_id", "tokens", "shingles").collect()
    for r in out:
        want = max(0, len(r["tokens"]) - 2)
        assert len(r["shingles"]) == want


# --------------------------------------------------------------------------
# ANN
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{TD}/embeddings.parquet").cache()


def test_brute_force_topk_self_is_top1(spark, emb):
    row = emb.first()
    top = brute_force_topk(emb, "embedding", "vec_id", list(row["embedding"]), k=3).collect()
    assert top[0]["vec_id"] == row["vec_id"]
    assert top[0]["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_srp_topk_recovers_top1(spark, emb):
    row = emb.first()
    q = list(row["embedding"])
    approx = srp_topk(emb, "embedding", "vec_id", q, k=3, n_bits=12)
    assert approx.first()["vec_id"] == row["vec_id"]  # self always lands in own bucket


# --------------------------------------------------------------------------
# text ops
# --------------------------------------------------------------------------

def test_text_stats_and_quality(spark):
    docs = spark.read.parquet(f"{TD}/documents.parquet")
    q = with_quality_score(docs).select("doc_id", "n_words", "alpha_ratio", "quality_ok")
    pdf = q.toPandas()
    assert (pdf["n_words"] > 0).all()
    assert pdf["alpha_ratio"].between(0, 1).all()
    assert pdf["quality_ok"].isin([True, False]).all()


def test_lang_guess_on_synthetic(spark):
    rows = [
        (1, "the cat and the dog went to the house of the king"),
        (2, "der Hund und die Katze ist von den nicht ein"),
        (3, "le chat et la maison est pour les dans un"),
        (4, "xyzzy qwerty asdf"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {r["id"]: r["lang_guess"] for r in with_lang_guess(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr" and out[4] == "unknown"


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, " HELLO\tWORLD ")], "id int, text string"
    )
    fps = {r["id"]: r["fingerprint"] for r in with_fingerprint(df).collect()}
    assert fps[1] == fps[2] == fps[3]


def test_embedding_near_dup_injection(spark, emb):
    """Inject near-identical copies (tiny perturbation) — all must be found."""
    from sketchlib.spark.ann import embedding_near_dup_pairs

    base = emb.limit(100).cache()
    # copy with vec_id + 10000 and embedding scaled by 1.001 (cosine == 1.0)
    copy = base.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001)).alias("embedding"),
        "label",
    )
    pairs = embedding_near_dup_pairs(
        base.unionByName(copy), "embedding", "vec_id", threshold=0.999
    ).toPandas()
    injected = pairs[pairs["id_b"] - pairs["id_a"] == 10_000]
    assert len(injected) == 100  # scaling preserves direction -> same buckets, cosine 1
    assert (pairs["cosine"] >= 0.999).all()  # exact verify: no false positives


def test_parquet_scan_non_hive_group_column(spark, tmp_path):
    """Group column stored IN the files (no hive dirs): the chunk reader must
    read it and factorize per batch instead of using path constants."""
    import shutil

    d = str(tmp_path / "docs_flat")
    import os

    os.makedirs(d)
    shutil.copy(f"{TD}/documents.parquet", f"{d}/part-0.parquet")
    specs = [SketchSpec("hll_doc", "hll", "doc_id", {"p": 12})]
    via_pyarrow = build_sketches_from_parquet(spark, d, specs, group_by="source").toPandas()
    via_spark = build_sketches(
        spark.read.parquet(f"{TD}/documents.parquet"), specs, group_by="source"
    ).toPandas()
    a = {r["group"]: bytes(r["state"]) for _, r in via_pyarrow.iterrows()}
    b = {r["group"]: bytes(r["state"]) for _, r in via_spark.iterrows()}
    assert a == b and len(a) == 20


def test_ivf_topk_self_recovery_and_recall(spark, emb):
    from sketchlib.spark.ann import brute_force_topk, ivf_index, ivf_topk

    assigned, centroids = ivf_index(emb, "embedding", "vec_id", n_lists=16)
    assigned = assigned.cache()
    assert centroids.shape[0] == 16
    row = emb.first()
    q = list(row["embedding"])
    top = ivf_topk(assigned, centroids, "embedding", "vec_id", q, k=1, nprobe=1).collect()
    assert top[0]["vec_id"] == row["vec_id"]  # own list is always probe #1

    # recall@1 vs brute force with generous probes (random data clusters weakly)
    brute1 = brute_force_topk(
        emb.filter(F.col("vec_id") != row["vec_id"]), "embedding", "vec_id", q, k=1
    ).collect()[0]["vec_id"]
    approx = ivf_topk(
        assigned.filter(F.col("vec_id") != row["vec_id"]),
        centroids, "embedding", "vec_id", q, k=5, nprobe=8,
    ).collect()
    assert brute1 in [r["vec_id"] for r in approx]


def test_signature_kernels_ignore_empty_rows():
    """Regression (round-2 ADVICE): a trailing empty token array must not
    change the preceding row's MinHash/SimHash signature — signatures are
    batch-layout independent."""
    import numpy as np

    from sketchlib.spark.dedup import _batch_minhash, _batch_simhash

    flat = np.array([5, 9], dtype=np.int64)
    alone = _batch_minhash(flat, np.array([0, 2]), 16, 17)
    with_trailing_empty = _batch_minhash(flat, np.array([0, 2, 2]), 16, 17)
    assert np.array_equal(alone[0], with_trailing_empty[0])
    assert (with_trailing_empty[1] == np.uint64(0xFFFFFFFFFFFFFFFF)).all()

    # middle-empty must neither perturb neighbors nor shift later rows
    mid = _batch_minhash(np.array([5, 9, 7], np.int64), np.array([0, 2, 2, 3]), 16, 17)
    only7 = _batch_minhash(np.array([7], np.int64), np.array([0, 1]), 16, 17)
    assert np.array_equal(mid[0], alone[0])
    assert (mid[1] == np.uint64(0xFFFFFFFFFFFFFFFF)).all()
    assert np.array_equal(mid[2], only7[0])

    sh_alone = _batch_simhash(flat, np.array([0, 2]), 23)
    sh_trail = _batch_simhash(flat, np.array([0, 2, 2]), 23)
    sh_mid = _batch_simhash(np.array([5, 9, 7], np.int64), np.array([0, 2, 2, 3]), 23)
    sh_only7 = _batch_simhash(np.array([7], np.int64), np.array([0, 1]), 23)
    assert sh_alone[0] == sh_trail[0] and sh_trail[1] == 0
    assert sh_mid[0] == sh_alone[0] and sh_mid[1] == 0 and sh_mid[2] == sh_only7[0]

    all_empty = _batch_minhash(np.array([], np.int64), np.array([0, 0, 0]), 8, 17)
    assert (all_empty == np.uint64(0xFFFFFFFFFFFFFFFF)).all()


def test_brute_force_topk_many_matches_per_query_loop(spark, emb):
    """The one-pass batch API must return exactly what the per-query loop
    returns (same ids, same order, same cosines)."""
    from sketchlib.spark.ann import brute_force_topk_many

    probes = emb.orderBy("vec_id").limit(4).collect()
    Q = [list(r["embedding"]) for r in probes]
    qids = [int(r["vec_id"]) for r in probes]
    batch = brute_force_topk_many(emb, "embedding", "vec_id", Q, k=3, query_ids=qids).toPandas()
    for r in probes:
        loop = brute_force_topk(emb, "embedding", "vec_id", list(r["embedding"]), k=3).toPandas()
        got = batch[batch["query_id"] == r["vec_id"]].sort_values(
            ["cosine", "vec_id"], ascending=[False, True]
        )
        assert list(got["vec_id"]) == list(loop["vec_id"])
        assert np.allclose(got["cosine"].to_numpy(), loop["cosine"].to_numpy(), atol=1e-12)


def test_lsh_bucket_cap_stops_degenerate_bucket(spark):
    """3000 byte-identical docs share every band → one degenerate bucket per
    band (4.5M pairs uncapped). With the cap the join stays linear and the
    report names the skipped buckets; distinct near-dup pairs elsewhere
    still verify."""
    from sketchlib.spark.dedup import candidate_pairs, oversized_buckets

    rows = [(i, [1, 2, 3]) for i in range(3000)]
    rows += [(10_000, [7, 8, 9, 10]), (10_001, [7, 8, 9, 10])]  # one real pair
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    sigs = minhash_signatures(df, "tokens", "doc_id", r=32, n_bands=8).cache()

    over = oversized_buckets(sigs, max_bucket=100).toPandas()
    assert len(over) >= 1 and (over["n_members"] >= 3000).all()

    pairs = candidate_pairs(sigs, "doc_id", threshold=0.9, max_bucket=100).toPandas()
    assert len(pairs) == 1  # only the un-capped pair survives; no 4.5M blowup
    assert {int(pairs["id_a"][0]), int(pairs["id_b"][0])} == {10_000, 10_001}


def test_cluster_min_id_long_chain_converges(spark):
    """A 40-hop duplicate chain (diameter >> max_iter) must still collapse to
    one representative — pointer jumping gives O(log diameter) rounds where
    plain propagation would silently split the cluster."""
    from sketchlib.spark.dedup import cluster_min_id

    pairs = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(40)], "id_a long, id_b long, jaccard_est double"
    )
    all_ids = spark.createDataFrame([(i,) for i in range(41)], "doc_id long")
    rep = cluster_min_id(pairs, all_ids, "doc_id", max_iter=10).toPandas()
    assert (rep["rep"] == 0).all() and len(rep) == 41


def test_membership_df_string_keys(spark):
    """Bloom membership over a string key column emits the key natively
    (round-1 bug: int(kv) raised ValueError on the supported string path)."""
    from sketchlib.spark.query import membership_df

    docs = spark.read.parquet(f"{TD}/documents.parquet")
    states = build_sketches(
        docs, [SketchSpec("bloom_lang", "bloom", "lang", {"m_bits": 1 << 14, "h": 5})],
        group_by="source",
    )
    present = {r["lang"] for r in docs.select("lang").distinct().collect()}
    out = membership_df(spark, states, "bloom_lang", sorted(present) + ["zz-fake"]).toPandas()
    assert out["key"].map(type).eq(str).all()
    # zero false negatives: every truly-present (source, lang) says may_contain
    truly = docs.select("source", "lang").distinct().toPandas()
    m = truly.merge(out, left_on=["source", "lang"], right_on=["group", "key"])
    assert m["may_contain"].all()


def test_srp_topk_many_matches_single_probe_path(spark, emb):
    """Batched SRP equals the per-query srp_topk on the same params."""
    from sketchlib.spark.ann import srp_topk_many

    probes = emb.orderBy("vec_id").limit(3).collect()
    Q = [list(r["embedding"]) for r in probes]
    qids = [int(r["vec_id"]) for r in probes]
    batch = srp_topk_many(emb, "embedding", "vec_id", Q, k=3, n_bits=12, query_ids=qids).toPandas()
    for r in probes:
        single = srp_topk(emb, "embedding", "vec_id", list(r["embedding"]), k=3, n_bits=12).toPandas()
        got = batch[batch["query_id"] == r["vec_id"]].sort_values(
            ["cosine", "vec_id"], ascending=[False, True]
        )
        assert list(got["vec_id"]) == list(single["vec_id"])


def test_winnow_fingerprint_guarantee_and_jvm_side(spark):
    """Winnowing guarantee: docs sharing a ≥ w+k−1 token run share ≥1
    fingerprint; disjoint docs share none; selection is sparse; and the
    whole expression is JVM-side (no Python eval in the plan)."""
    from sketchlib.spark.text import with_winnow_fingerprint

    k, w = 5, 8
    shared = list(range(1000, 1000 + w + k - 1))  # exactly the guarantee length
    rows = [
        (1, list(range(100)) + shared + list(range(200, 260))),
        (2, list(range(300, 380)) + shared),
        (3, list(range(400, 520))),  # disjoint
        (4, [7, 8, 9]),              # shorter than k -> no shingles
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    out = {r["doc_id"]: set(r["fingerprints"]) for r in
           with_winnow_fingerprint(df, k=k, w=w).collect()}
    assert out[1] & out[2], "shared run must share a fingerprint"
    assert not (out[1] & out[3]) and not (out[2] & out[3])
    assert out[4] == set()
    # sparsity: far fewer fingerprints than shingles (~2/(w+1) density)
    assert len(out[3]) < 120 - k + 1 - w
    plan = with_winnow_fingerprint(df, k=k, w=w)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _lambda_bodies(plan: str) -> list[str]:
    """Text inside every ``lambdafunction(...)`` of a plan string."""
    out, start = [], 0
    while (i := plan.find("lambdafunction(", start)) >= 0:
        j, depth = i + len("lambdafunction("), 1
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
        out.append(plan[i:j])
        start = i + 1
    return out


def test_ngram_lambdas_never_recompute_derived_tokens(spark):
    """A derived tokens column (``with_tokens``) shingled or winnowed, then
    exploded and joined: Catalyst inlines a column's definition into the
    filters it infers for the explode and pushes down, so an array named
    inside a per-position lambda would be re-tokenized at every position
    (a 1k-doc winnow containment join took minutes). No lambda body of the
    optimized plan may hold the tokenizer's ``split``; answers are unchanged
    (fingerprints still match the base-column build)."""
    from sketchlib.spark.text import with_winnow_fingerprint
    from sketchlib.spark.tokenize import with_tokens

    docs = with_tokens(spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n o"), (2, "u v w x y z")], "doc_id long, text string"
    ))
    for col, df in (
        ("fingerprints", with_winnow_fingerprint(docs, k=5, w=8)),
        ("shingles", with_token_ngrams(docs, "tokens", n=3)),
    ):
        ex = df.select("doc_id", F.explode(col).alias("h"))
        joined = ex.join(ex.withColumnRenamed("doc_id", "d2"), "h", "leftsemi")
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "split(" in plan
        assert not [b for b in _lambda_bodies(plan) if "split(" in b], col
        assert sorted(r["doc_id"] for r in joined.select("doc_id").distinct().collect()) == [1, 2]
    base = docs.select("doc_id", "tokens").localCheckpoint()
    assert {r["doc_id"]: r["fingerprints"] for r in
            with_winnow_fingerprint(docs, k=5, w=8).collect()} == {
        r["doc_id"]: r["fingerprints"] for r in
        with_winnow_fingerprint(base, k=5, w=8).collect()}


def test_bpe_regex_pretokenizer(spark):
    """GPT-2-style regex pre-tokenization, JVM-side: contractions split off,
    the leading space rides with the word, digit and punctuation runs are
    their own tokens, whitespace runs are kept (newline tokens exist in BPE
    vocabularies). n_tok under this mode tracks BPE token counts."""
    from sketchlib.spark.tokenize import pre_tokens, with_tokens

    df = spark.createDataFrame([("Hello world's  test, 123!",)], "text string")
    got = df.select(pre_tokens("text", "bpe_regex").alias("t")).collect()[0]["t"]
    assert got == ["Hello", " world", "'s", " ", " test", ",", " 123", "!"]

    toks = with_tokens(df, mode="bpe_regex").collect()[0]
    assert toks["n_tok"] == 8
    assert all(0 <= t < 50_000 for t in toks["tokens"])

    ws = with_tokens(df, mode="whitespace").collect()[0]
    assert ws["n_tok"] == 4  # whitespace words: Hello / world's / test, / 123!

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown tokenizer mode"):
        df.select(pre_tokens("text", "nope"))


def test_contamination_pairs(spark, seq_tiny_dir):
    """Decontamination is exact: every train doc holding an injected eval
    n-gram run is flagged against the right eval doc; untouched docs are
    not flagged (8-gram hash collisions ~2^-64)."""
    from pyspark.sql import Row, functions as F

    from sketchlib.spark.dedup import contamination_pairs

    train = spark.read.parquet(seq_tiny_dir)
    # eval set = 3 synthetic docs; inject eval doc e1's first 12 tokens into
    # 5 known train docs (prepend), leave the rest untouched
    rng = __import__("numpy").random.default_rng(5)
    evals = [Row(doc_id=f"e{i}", tokens=[int(x) for x in rng.integers(10**7, 10**8, 40)])
             for i in range(3)]
    eval_df = spark.createDataFrame(evals)
    snippet = evals[1]["tokens"][:12]
    victims = {r["doc_id"] for r in train.select("doc_id").orderBy("doc_id").limit(5).collect()}
    lit_snip = F.array(*[F.lit(t) for t in snippet])
    train2 = train.withColumn(
        "tokens",
        F.when(F.col("doc_id").isin(victims), F.concat(lit_snip, F.col("tokens")))
         .otherwise(F.col("tokens")),
    )
    hits = contamination_pairs(train2, eval_df, n=8).collect()
    assert {(r["train_id"], r["eval_id"]) for r in hits} == {(v, "e1") for v in victims}
    # 12-token snippet with 8-grams → 5 shared shingles per victim
    assert all(r["n_shared"] == 5 for r in hits)

    # size gate (VERDICT r3 #3): forcing the threshold below the eval
    # shingle count drives the shuffle-join fallback — pair-identical
    # output, so an oversized eval side degrades latency, never recall
    shuffled = contamination_pairs(train2, eval_df, n=8, broadcast_threshold=1).collect()
    assert {(r["train_id"], r["eval_id"], r["n_shared"]) for r in shuffled} == {
        (r["train_id"], r["eval_id"], r["n_shared"]) for r in hits
    }


def test_repetition_stats(spark):
    """Gopher-style repetition gates: hand-checked fractions, empty-safe."""
    from pyspark.sql import Row

    from sketchlib.spark.text import with_repetition_stats

    rows = [
        Row(doc_id="a", tokens=[1, 1, 1, 2]),     # dup_tok 2/4, bigrams (1,1)x2 (1,2) -> 1/3, top 3/4
        Row(doc_id="b", tokens=[5, 6, 7, 8]),     # all distinct: 0, 0, 1/4
        Row(doc_id="c", tokens=[9]),              # too short for bigrams
        Row(doc_id="d", tokens=[]),               # empty
    ]
    out = {r["doc_id"]: r for r in with_repetition_stats(spark.createDataFrame(rows)).collect()}
    assert abs(out["a"]["dup_token_frac"] - 0.5) < 1e-12
    assert abs(out["a"]["dup_ngram_frac"] - 1 / 3) < 1e-12
    assert abs(out["a"]["top_token_frac"] - 0.75) < 1e-12
    assert out["b"]["dup_token_frac"] == 0.0 and out["b"]["dup_ngram_frac"] == 0.0
    assert abs(out["b"]["top_token_frac"] - 0.25) < 1e-12
    assert out["c"]["dup_ngram_frac"] == 0.0 and out["c"]["top_token_frac"] == 1.0
    assert out["d"]["dup_token_frac"] == 0.0 and out["d"]["top_token_frac"] == 0.0

    # string tokens work too (the documents-table path)
    srows = [Row(doc_id="s", tokens=["x", "y", "x", "x"])]
    sout = with_repetition_stats(spark.createDataFrame(srows)).collect()[0]
    assert abs(sout["dup_token_frac"] - 0.5) < 1e-12
    assert abs(sout["top_token_frac"] - 0.75) < 1e-12


def test_contamination_spans(spark):
    """Span detection: a 20-token verbatim inclusion reports
    max_span_tokens=20; two separated 12-token inclusions report 12 (spans
    don't bridge the gap); untouched docs report nothing."""
    from pyspark.sql import Row

    from sketchlib.spark.dedup import contamination_spans

    rng = np.random.default_rng(11)
    ev = [int(x) for x in rng.integers(10**7, 10**8, 40)]
    eval_df = spark.createDataFrame([Row(doc_id="e1", tokens=ev)])
    base = [int(x) for x in rng.integers(1, 50_000, 60)]
    train = spark.createDataFrame([
        Row(doc_id="t_full", tokens=ev[:20] + base),          # one 20-token span
        Row(doc_id="t_split", tokens=ev[:12] + base[:10] + ev[20:32] + base[10:]),
        Row(doc_id="t_repeat", tokens=ev[:12] + base[:10] + ev[:12] + base[10:]),
        Row(doc_id="t_clean", tokens=base),
    ])
    out = {r["train_id"]: r for r in contamination_spans(train, eval_df, n=8).collect()}
    assert set(out) == {"t_full", "t_split", "t_repeat"}
    assert out["t_full"]["max_span_tokens"] == 20
    assert out["t_full"]["max_run_ngrams"] == 13       # 20 - 8 + 1
    assert out["t_split"]["max_span_tokens"] == 12
    assert out["t_split"]["n_shared"] == 10            # 5 + 5 distinct shingles
    # a REPEATED phrase shares the same 5 distinct shingles twice over —
    # n_shared counts distinct hashes (matches contamination_pairs), span 12
    assert out["t_repeat"]["n_shared"] == 5
    assert out["t_repeat"]["max_span_tokens"] == 12
    # shuffle fallback is pair-identical
    shuffled = {r["train_id"]: r for r in
                contamination_spans(train, eval_df, n=8, broadcast_threshold=1).collect()}
    assert {(k, v["max_span_tokens"]) for k, v in out.items()} == {
        (k, v["max_span_tokens"]) for k, v in shuffled.items()
    }


def test_minhash_lsh_dedup_keep_by_quality(spark, seq_tiny_dir):
    """keep_by: the cluster representative is the HIGHEST-scoring member,
    not the min id — the duplicate set's winner carries the injected score."""
    df = spark.read.parquet(seq_tiny_dir).limit(200).cache()
    n = df.count()
    dup = df.withColumn("doc_id", F.concat(F.lit("zz_"), F.col("doc_id")))
    # copies get the HIGHER score: keep_by must retain zz_* and drop originals
    doubled = df.withColumn("score", F.lit(1.0)).unionByName(
        dup.withColumn("score", F.lit(2.0))
    )
    kept = minhash_lsh_dedup(
        doubled, "tokens", "doc_id", r=64, n_bands=16, threshold=0.9, keep_by="score"
    )
    assert kept.count() == n
    assert kept.filter(~F.col("doc_id").startswith("zz_")).count() == 0


def test_sketch_build_over_csv_and_json_sources(spark, tmp_path):
    """Source-format independence: the generic mapInArrow build path takes
    ANY Spark-readable DataFrame — CSV and JSON sources produce the same
    estimates as the parquet path (the pyarrow-direct scan is a parquet
    FAST PATH, not a format requirement)."""
    import pandas as pd

    from sketchlib.spark.query import estimates_df

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "doc_id": np.arange(3000),
        "source": np.repeat(["a", "b", "c"], 1000),
        "val": rng.integers(0, 500, 3000),
    })
    base = spark.createDataFrame(pdf)
    paths = {}
    for fmt in ("parquet", "csv", "json"):
        p = str(tmp_path / fmt)
        w = base.write
        if fmt == "csv":
            w = w.option("header", True)
        getattr(w, fmt)(p)
        paths[fmt] = p
    spec = [SketchSpec("h", "hll", "doc_id", {"p": 12})]
    outs = {}
    for fmt, p in paths.items():
        r = spark.read
        if fmt == "csv":
            r = r.option("header", True).option("inferSchema", True)
        df = getattr(r, fmt)(p)
        # normalize dtypes: csv/json may infer differently; cast to long
        df = df.select(F.col("doc_id").cast("long"), "source", F.col("val").cast("long"))
        states = build_sketches(df, spec, group_by="source")
        outs[fmt] = {
            r["group"]: r["estimate"] for r in estimates_df(spark, states, "h").collect()
        }
    assert outs["csv"] == outs["parquet"] == outs["json"]


def test_dedup_delta_incremental(spark, seq_tiny_dir):
    """Incremental dedup: a delta is deduped against the persisted corpus
    signatures (corpus raw data untouched) AND within itself; appending
    the returned signatures closes the loop — a second delta of the same
    docs is then fully deduped too."""
    from sketchlib.spark.dedup import dedup_delta, minhash_signatures

    corpus = spark.read.parquet(seq_tiny_dir).limit(300).cache()
    corpus.count()
    corpus_sigs = minhash_signatures(corpus, "tokens", "doc_id", r=64, n_bands=16)
    corpus_sigs = corpus_sigs.localCheckpoint()

    fresh = spark.read.parquet(seq_tiny_dir).orderBy(F.desc("doc_id")).limit(100).cache()
    fresh = fresh.join(corpus.select("doc_id"), "doc_id", "left_anti").cache()
    n_fresh = fresh.count()
    assert n_fresh > 50
    # delta = copies of corpus docs (dup of corpus) + fresh docs (kept) +
    # an internal duplicate pair within the delta
    copies = corpus.limit(40).withColumn("doc_id", F.concat(F.lit("dup_"), F.col("doc_id")))
    twin = fresh.limit(1).withColumn("doc_id", F.concat(F.lit("twin_"), F.col("doc_id")))
    delta = fresh.unionByName(copies).unionByName(twin)

    kept, kept_sigs = dedup_delta(delta, corpus_sigs, threshold=0.9)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert not any(i.startswith("dup_") for i in kept_ids)   # corpus dups dropped
    assert not any(i.startswith("twin_") for i in kept_ids)  # delta-internal dup dropped
    assert len(kept_ids) == n_fresh                          # every fresh doc kept
    assert kept_sigs.count() == n_fresh                      # sigs of kept rows only
    assert kept_sigs.select(F.size("sig")).first()[0] == 64  # r inherited from corpus

    # close the loop: append kept sigs, replay the SAME delta -> nothing survives
    grown = corpus_sigs.unionByName(kept_sigs)
    kept2, _ = dedup_delta(delta, grown, threshold=0.9)
    assert kept2.count() == 0


def test_dedup_delta_shuffle_fallback_identical(spark, seq_tiny_dir):
    """The size gate on dedup_delta's broadcasts (VERDICT r4 #2) must be
    output-invariant: forcing the shuffle-join fallback (broadcast_threshold=0)
    keeps exactly the same set as the broadcast map-side-probe path."""
    from sketchlib.spark.dedup import dedup_delta, minhash_signatures

    corpus = spark.read.parquet(seq_tiny_dir).limit(300).cache()
    corpus_sigs = minhash_signatures(corpus, "tokens", "doc_id", r=64, n_bands=16)
    corpus_sigs = corpus_sigs.localCheckpoint()
    fresh = (
        spark.read.parquet(seq_tiny_dir).orderBy(F.desc("doc_id")).limit(80)
        .join(corpus.select("doc_id"), "doc_id", "left_anti")
    )
    copies = corpus.limit(30).withColumn("doc_id", F.concat(F.lit("dup_"), F.col("doc_id")))
    delta = fresh.unionByName(copies).cache()
    delta.count()

    kept_b, sigs_b = dedup_delta(delta, corpus_sigs, threshold=0.9)
    kept_s, sigs_s = dedup_delta(delta, corpus_sigs, threshold=0.9, broadcast_threshold=0)
    ids_b = {r["doc_id"] for r in kept_b.select("doc_id").collect()}
    ids_s = {r["doc_id"] for r in kept_s.select("doc_id").collect()}
    assert ids_b == ids_s and len(ids_b) > 0
    assert sigs_b.count() == sigs_s.count() == len(ids_b)
    corpus.unpersist()
    delta.unpersist()


def test_filter_documents_gates_and_report(spark):
    """Quality-gate composition (round 5): kept = rows passing EVERY gate;
    the report counts each gate's failures INDEPENDENTLY (a doc failing
    two gates appears in both counts — attribution must not depend on
    gate order); NULL gate results count as failures, never silent
    passes."""
    import pandas as pd

    from sketchlib.spark.text import filter_documents

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["a", "b", "c", "d", "e"],
                "n_tok": [10, 2, 500, 3, 50],
                "score": [0.9, 0.8, 0.1, 0.05, None],
            }
        ).astype({"score": "float64"})
    )
    kept, report = filter_documents(
        df, {"min_len": "n_tok >= 5", "max_len": "n_tok <= 400", "quality": "score >= 0.5"}
    )
    assert {r["doc_id"] for r in kept.collect()} == {"a"}
    rep = {r["gate"]: (r["n"], r["rate"]) for r in report.collect()}
    assert rep["min_len"] == (2, 0.4)       # b, d
    assert rep["max_len"] == (1, 0.2)       # c
    assert rep["quality"] == (3, 0.6)       # c, d, e(NULL)
    assert rep["__kept__"] == (1, 0.2)      # a only

    with pytest.raises(ValueError, match="at least one"):
        filter_documents(df, {})


def test_redact_pii_sequential_attribution(spark):
    from sketchlib.spark.text import pii_report, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org or 10.1.2.3"),
            (2, "ssn 123-45-6789 call 415-555-0142 twice 415-555-0142"),
            (3, "clean text"),
            (4, "a@b.io a@b.io 999.999.999.999"),
            (5, "intl +44 123 4567 ok"),
        ],
        "doc_id long, text string",
    )
    redacted = redact_pii(df)
    # in-place redaction must keep the original column ORDER (text stays at
    # index 1; positional consumers would otherwise read a count column)
    assert redacted.columns[:2] == ["doc_id", "text"]
    got = {r["doc_id"]: r for r in redacted.collect()}
    assert got[1]["text"] == "mail <EMAIL> or <IP>"
    assert got[2]["text"] == "ssn <SSN> call <PHONE> twice <PHONE>"
    assert got[3]["text"] == "clean text"
    # the international '+' is consumed by the redaction ('\+?' BEFORE \b —
    # after it, '+44' has no boundary and the prefix would survive)
    assert got[5]["text"] == "intl <PHONE> ok"
    # the email rule consumes its digits BEFORE ip/phone see them, and
    # 999.999.999.999 still reads as an IPv4 shape (redaction, not
    # validation — same as DuckDB's RE2 on the identical pattern)
    assert got[4]["text"] == "<EMAIL> <EMAIL> <IP>"
    assert (got[4]["pii_email"], got[4]["pii_ipv4"]) == (2, 1)
    assert got[2]["pii_phone"] == 2

    rep = {r["pattern"]: (r["n_matches"], r["n_docs"]) for r in pii_report(df).collect()}
    assert rep["email"] == (3, 2)
    assert rep["ipv4"] == (2, 2)
    assert rep["ssn"] == (1, 1)
    assert rep["phone"] == (3, 2)
    total_chars = sum(len(r["text"]) for r in redact_pii(df).collect())
    assert rep["__redacted__"] == (total_chars, 0)

    with pytest.raises(ValueError, match="at least one"):
        redact_pii(df, patterns={})


def test_redact_pii_plan_stays_jvm_side(spark):
    from sketchlib.spark.text import redact_pii

    df = spark.createDataFrame([(1, "a@b.io")], "doc_id long, text string")
    plan = redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_redact_pii_custom_patterns_and_out_col(spark):
    from sketchlib.spark.text import redact_pii

    df = spark.createDataFrame([(1, "token sk-abc123 end")], "doc_id long, text string")
    out = redact_pii(
        df,
        patterns={"apikey": (r"sk-[A-Za-z0-9]+", "<KEY>")},
        out="scrubbed",
    ).collect()[0]
    assert out["scrubbed"] == "token <KEY> end"
    assert out["text"] == "token sk-abc123 end"  # original kept when out differs
    assert out["pii_apikey"] == 1


def test_dedup_lines_c4_boilerplate(spark):
    from sketchlib.spark.dedup import dedup_lines

    df = spark.createDataFrame(
        [
            (1, "unique story one\nSubscribe now\ntail one"),
            (2, "unique story two\nSubscribe now"),
            (3, "Subscribe now\nunique three\nSubscribe now"),
            (4, "all heavy\nall heavy\nall heavy"),  # within-doc repeats count
            (5, None),
            # blank-line PARAGRAPH SEPARATORS: '' occurs 3x corpus-wide but is
            # exempt — stripping it would collapse every doc's paragraph
            # structure (the separator is whitespace, not boilerplate)
            (6, "para six a\n\npara six b"),
            (7, "para seven a\n\npara seven b"),
            (8, "para eight a\n\npara eight b"),
        ],
        "doc_id long, text string",
    )
    cleaned, report = dedup_lines(df)
    got = {r["doc_id"]: r for r in cleaned.collect()}
    assert got[6]["text_clean"] == "para six a\n\npara six b"
    assert (got[6]["n_kept"], got[6]["n_removed"]) == (3, 0)
    assert got[1]["text_clean"] == "unique story one\ntail one"
    assert got[2]["text_clean"] == "unique story two"
    assert got[3]["text_clean"] == "unique three"
    assert (got[3]["n_kept"], got[3]["n_removed"]) == (1, 2)
    # fully-boilerplate doc survives as '' — dropping is the caller's policy
    assert (got[4]["text_clean"], got[4]["n_kept"]) == ("", 0)
    # NULL text passes through as NULL with zero counts
    assert got[5]["text_clean"] is None and got[5]["n_removed"] == 0
    rep = report.collect()[0]
    assert (rep["n_docs"], rep["n_lines"], rep["n_removed"], rep["n_heavy_lines"]) == (
        7, 20, 7, 2,
    )

    with pytest.raises(ValueError, match="min_count"):
        dedup_lines(df, min_count=1)


def test_dedup_lines_sep_is_literal_not_regex(spark):
    from sketchlib.spark.dedup import dedup_lines

    # '|' would split every character if passed to split() unescaped
    df = spark.createDataFrame(
        [(1, "keep me|dup|x"), (2, "dup|y"), (3, "dup|z")],
        "doc_id long, text string",
    )
    cleaned, _ = dedup_lines(df, min_count=3, sep="|")
    got = {r["doc_id"]: r["text_clean"] for r in cleaned.collect()}
    assert got == {1: "keep me|x", 2: "y", 3: "z"}


def test_dedup_lines_min_count_boundary(spark):
    from sketchlib.spark.dedup import dedup_lines

    df = spark.createDataFrame(
        [(1, "twice\na1"), (2, "twice\na2"), (3, "a3")],
        "doc_id long, text string",
    )
    # exactly min_count-1 occurrences -> kept
    cleaned, report = dedup_lines(df, min_count=3)
    assert all(r["n_removed"] == 0 for r in cleaned.collect())
    assert report.collect()[0]["n_heavy_lines"] == 0
    # at min_count -> removed
    cleaned2, _ = dedup_lines(df, min_count=2)
    got = {r["doc_id"]: r["text_clean"] for r in cleaned2.collect()}
    assert got == {1: "a1", 2: "a2", 3: "a3"}


def test_duplicate_spans_exactsubstr(spark):
    from sketchlib.spark.dedup import duplicate_spans

    common = list(range(1000, 1030))  # 30-token verbatim block
    df = spark.createDataFrame(
        [
            (1, list(range(0, 80)) + common),
            (2, list(range(200, 260)) + common + list(range(300, 310))),
            (3, list(range(400, 480))),
            (4, common[:20] + list(range(500, 560))),
        ],
        "doc_id long, tokens array<int>",
    )
    rows = {(r["id_a"], r["id_b"]): r
            for r in duplicate_spans(df, n=8, min_span_tokens=25).collect()}
    # only the 30-token block clears min_span_tokens=25; positions recovered
    assert set(rows) == {(1, 2)}
    r = rows[(1, 2)]
    assert r["max_span_tokens"] == 30 and r["max_run_ngrams"] == 23
    assert (r["a_start"], r["b_start"]) == (80, 60)
    # lowering the bar surfaces the 20-token prefix overlaps with doc 4
    lower = {(r["id_a"], r["id_b"]): r["max_span_tokens"]
             for r in duplicate_spans(df, n=8, min_span_tokens=15).collect()}
    assert lower == {(1, 2): 30, (1, 4): 20, (2, 4): 20}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_span_tokens"):
        duplicate_spans(df, n=8, min_span_tokens=4)


def test_duplicate_spans_singleton_pruning_and_cap(spark):
    from pyspark.sql import functions as F

    from sketchlib.spark.dedup import duplicate_spans

    # a shingle repeated in max_bucket+1 positions is capped out of the join
    hot = list(range(50, 58))
    docs = [(i, hot + [10_000 + i] * 8) for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, tokens array<int>")
    got = duplicate_spans(df, n=8, min_span_tokens=8, max_bucket=5).collect()
    assert got == []  # the hot 8-gram (6 occurrences > cap 5) never joins
    got2 = duplicate_spans(df, n=8, min_span_tokens=8, max_bucket=100).collect()
    assert len(got2) == 15  # all C(6,2) pairs share it under a higher cap


def test_cut_duplicate_spans_closure(spark):
    from sketchlib.spark.dedup import cut_duplicate_spans, duplicate_spans

    common = list(range(1000, 1030))
    df = spark.createDataFrame(
        [
            (1, list(range(0, 80)) + common),
            (2, list(range(200, 260)) + common + list(range(300, 310))),
            (3, list(range(400, 480))),
            (4, common[:20] + list(range(500, 560))),
        ],
        "doc_id long, tokens array<int>",
    )
    spans = duplicate_spans(df, n=8, min_span_tokens=15)
    cut = cut_duplicate_spans(df, spans)
    got = {r["doc_id"]: r for r in cut.collect()}
    # keep-in-min-id policy: doc 1 intact, 2 loses the 30-block, 4 the 20-prefix
    assert got[1]["n_cut_tokens"] == 0 and len(got[1]["tokens"]) == 110
    assert got[2]["n_cut_tokens"] == 30 and common[0] not in got[2]["tokens"]
    # overlapping intervals from pairs (1,4) and (2,4) cut once, not twice
    assert got[4]["n_cut_tokens"] == 20
    assert got[3]["tokens"] == list(range(400, 480))  # untouched, order kept
    # post-cut surviving tokens preserve original relative order
    assert got[2]["tokens"] == list(range(200, 260)) + list(range(300, 310))
    # closure: the invariant duplicate_spans enforces now holds
    assert duplicate_spans(cut, n=8, min_span_tokens=15).count() == 0


def test_cut_duplicate_spans_no_python_no_corpus_shuffle(spark):
    from sketchlib.spark.dedup import cut_duplicate_spans, duplicate_spans

    df = spark.createDataFrame(
        [(i, list(range(100)) if i < 2 else list(range(i * 100, i * 100 + 50)))
         for i in range(10)],
        "doc_id long, tokens array<int>",
    )
    spans = duplicate_spans(df, n=8, min_span_tokens=10)
    plan = (
        cut_duplicate_spans(df, spans)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_spans_fixpoint_in_doc_repeats(spark):
    from sketchlib.spark.dedup import dedup_spans_fixpoint, duplicate_spans

    block = list(range(1000, 1030))
    # doc 2 contains the block TWICE: one detect->cut pass removes only the
    # longest-run position; the fixpoint loop must take a second pass
    df = spark.createDataFrame(
        [
            (1, list(range(0, 60)) + block),
            (2, block + list(range(200, 240)) + block),
            (3, list(range(400, 460))),
        ],
        "doc_id long, tokens array<int>",
    )
    cleaned, stats = dedup_spans_fixpoint(df, n=8, min_span_tokens=20, max_iter=5)
    assert stats["converged"] and stats["iterations"] == 2
    assert duplicate_spans(cleaned, n=8, min_span_tokens=20).count() == 0
    got = {r["doc_id"]: r for r in cleaned.collect()}
    # keeper retains one copy, doc 2 loses both, untouched doc intact
    assert got[1]["n_cut_tokens"] == 0 and len(got[1]["tokens"]) == 90
    assert got[2]["n_cut_tokens"] == 60 and got[2]["tokens"] == list(range(200, 240))
    assert got[3]["tokens"] == list(range(400, 460))
    assert stats["cut_tokens"] == 60


def test_dedup_spans_fixpoint_clean_corpus_zero_iterations(spark):
    from sketchlib.spark.dedup import dedup_spans_fixpoint

    df = spark.createDataFrame(
        [(i, list(range(i * 100, i * 100 + 40))) for i in range(4)],
        "doc_id long, tokens array<int>",
    )
    cleaned, stats = dedup_spans_fixpoint(df, n=8, min_span_tokens=10)
    assert stats == {
        "iterations": 0, "converged": True, "pairs_per_iter": [], "cut_tokens": 0,
    }
    assert all(r["n_cut_tokens"] == 0 for r in cleaned.collect())
    assert cleaned.count() == 4


def test_contamination_bloom_prefilter_paths_identical(spark):
    """Above the broadcast gate the train side is bloom-prefiltered before
    the shuffle join. Results must be IDENTICAL across all three routes
    (broadcast / prefilter+shuffle / plain shuffle): Bloom has no false
    negatives and the join stays exact. Also asserts the prefilter is
    actually selective — non-candidate corpus shingles are dropped
    map-side, which is the whole 100 TB point."""
    import random

    from pyspark.sql import functions as F

    from sketchlib.spark.dedup import (
        _bloom_params,
        _bloom_prefilter,
        _eval_hash_bloom,
        contamination_pairs,
        contamination_spans,
        with_token_ngrams,
    )

    rng = random.Random(5)
    train = spark.createDataFrame(
        [(i, [rng.randrange(10**6) for _ in range(40)]) for i in range(200)],
        "doc_id long, tokens array<long>",
    )
    tr = {r["doc_id"]: r["tokens"] for r in train.collect()}
    ev = spark.createDataFrame(
        [(1000, tr[7][5:25]), (1001, [rng.randrange(10**6) for _ in range(30)])],
        "doc_id long, tokens array<long>",
    )

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    broadcast = canon(contamination_pairs(train, ev, n=8))
    prefiltered = canon(contamination_pairs(train, ev, n=8, broadcast_threshold=0))
    plain = canon(
        contamination_pairs(train, ev, n=8, broadcast_threshold=0, prefilter_fpr=None)
    )
    assert broadcast == prefiltered == plain
    assert broadcast == [(7, 1000, 13)]  # 20-token copy -> 13 shared 8-grams

    assert canon(contamination_spans(train, ev, n=8)) == canon(
        contamination_spans(train, ev, n=8, broadcast_threshold=0)
    )

    # selectivity: the corpus explodes to ~200*33 shingle rows; only the one
    # contaminated doc's 13 matching shingles (+ fpr stragglers) survive
    t = with_token_ngrams(train, "tokens", n=8, out="_sh", element_cast="BIGINT").select(
        F.col("doc_id").alias("train_id"), F.explode("_sh").alias("h")
    )
    e = (
        with_token_ngrams(ev, "tokens", n=8, out="_sh", element_cast="BIGINT")
        .select(F.col("doc_id").alias("eval_id"), F.explode("_sh").alias("h"))
        .distinct()
    )
    total = t.count()
    survivors = _bloom_prefilter(t, _eval_hash_bloom(e, _bloom_params(e.count(), 1e-3))).count()
    assert total > 6000
    assert 13 <= survivors < total * 0.05


def test_bloom_params_capped_and_degenerate():
    """Bloom geometry is derived O(1) (no array allocation), CAPPED at the
    JVM/Arrow binary limit with gracefully-degraded fpr, and reports None
    when the capped filter would be useless — the caller then keeps the
    plain shuffle join instead of crashing where it used to work."""
    import math

    from sketchlib.spark.dedup import _BLOOM_MAX_BITS, _bloom_params

    m, h = _bloom_params(10**8, 1e-3)
    assert abs(m - (-10**8 * math.log(1e-3) / math.log(2) ** 2)) < 8  # optimal
    assert h == round((m / 10**8) * math.log(2))

    m, h = _bloom_params(2 * 10**9, 1e-3)  # optimal m would be 28.7e9 > cap
    assert m == _BLOOM_MAX_BITS and h >= 1
    proj = (1.0 - math.exp(-h * 2 * 10**9 / m)) ** h
    assert proj <= 0.5  # still selective enough to be worth the pass

    assert _bloom_params(10**11, 1e-3) is None  # capped filter ~always-true


def test_dedup_spans_fixpoint_disjoint_spans_same_pair(spark):
    """A pair sharing TWO disjoint qualifying runs: duplicate_spans reports
    only the longest per pair, so one cut pass leaves the shorter run —
    the fixpoint loop must take a second pass and remove it too."""
    from sketchlib.spark.dedup import dedup_spans_fixpoint, duplicate_spans

    blk_a = list(range(1000, 1060))  # 60-token shared block
    blk_b = list(range(2000, 2040))  # 40-token shared block, disjoint
    rows = [
        (1, blk_a + list(range(100, 130)) + blk_b),
        (2, blk_a + list(range(300, 340)) + blk_b),
        (3, list(range(500, 560))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    cleaned, stats = dedup_spans_fixpoint(df, n=8, min_span_tokens=20, max_iter=5)
    assert stats["converged"] and stats["iterations"] == 2
    assert stats["pairs_per_iter"] == [1, 1]
    got = {r["doc_id"]: r for r in cleaned.collect()}
    # keeper (min id) retains both blocks; doc 2 loses both, keeps its middle
    assert got[1]["tokens"] == rows[0][1] and got[1]["n_cut_tokens"] == 0
    assert got[2]["tokens"] == list(range(300, 340)) and got[2]["n_cut_tokens"] == 100
    assert got[3]["n_cut_tokens"] == 0
    assert stats["cut_tokens"] == 100
    # the defining closure, at the fixpoint
    assert duplicate_spans(cleaned, n=8, min_span_tokens=20).count() == 0


# --- top_ngrams (corpus boilerplate report) --------------------------------


def _ngram_ref(docs, n):
    import collections

    c = collections.Counter()
    for toks in docs:
        if toks is None or len(toks) < n:
            continue
        for i in range(len(toks) - n + 1):
            c[tuple(toks[i : i + n])] += 1
    return c


def test_top_ngrams_matches_python_reference(spark):
    from sketchlib.spark.text import top_ngrams

    docs = [
        [1, 2, 3, 1, 2, 3, 1, 2],   # "1 2 3" twice, "2 3 1" twice
        [1, 2, 3, 9],
        [7, 7, 7, 7, 7],
        [5, 6],                      # shorter than n -> no grams
        None,                        # NULL tokens -> skipped
    ]
    df = spark.createDataFrame([(d,) for d in docs], "tokens array<int>")
    got = [(tuple(r["ngram"]), r["cnt"]) for r in top_ngrams(df, "tokens", n=3, k=4).collect()]
    ref = _ngram_ref(docs, 3)
    expect = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
    assert got == expect


def test_top_ngrams_by_hash_identical(spark):
    import random

    from sketchlib.spark.text import top_ngrams

    rng = random.Random(11)
    docs = [[rng.randrange(8) for _ in range(rng.randrange(3, 30))] for _ in range(300)]
    df = spark.createDataFrame([(d,) for d in docs], "tokens array<int>")
    a = [(tuple(r["ngram"]), r["cnt"]) for r in top_ngrams(df, n=2, k=10).collect()]
    b = [(tuple(r["ngram"]), r["cnt"]) for r in top_ngrams(df, n=2, k=10, by_hash=True).collect()]
    assert a == b


def test_top_ngrams_tie_break_deterministic(spark):
    from sketchlib.spark.text import top_ngrams

    # four distinct unigrams all with count 1: k=2 must take the 2 smallest
    df = spark.createDataFrame([([9],), ([3],), ([7],), ([1],)], "tokens array<int>")
    got = [tuple(r["ngram"]) for r in top_ngrams(df, n=1, k=2).collect()]
    assert got == [(1,), (3,)]


def test_ngram_counts_takeordered_plan(spark):
    """The default top-k must plan as TakeOrderedAndProject (per-partition
    top-k + driver merge), never a full global Sort."""
    from sketchlib.spark.text import top_ngrams

    df = spark.createDataFrame([([1, 2, 3, 4],)], "tokens array<int>")
    plan = top_ngrams(df, n=2, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# --- source_overlap (mixture-design overlap matrix) -------------------------


def test_source_overlap_matches_python_reference(spark):
    from sketchlib.spark.sampling import source_overlap

    rows = [
        ("a", 1), ("a", 2), ("a", 3), ("a", 3),       # dup fp within group
        ("b", 2), ("b", 3), ("b", 4),
        ("c", 99),                                     # disjoint from a and b
        (None, 1), ("a", None),                        # excluded
    ]
    df = spark.createDataFrame(rows, "source string, fp int")
    got = {
        (r["group_a"], r["group_b"]): (r["n_a"], r["n_b"], r["n_common"], r["jaccard"])
        for r in source_overlap(df, "fp").collect()
    }
    sets = {"a": {1, 2, 3}, "b": {2, 3, 4}, "c": {99}}
    expect = {}
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                expect[(a, b)] = (
                    len(sets[a]),
                    len(sets[b]),
                    inter,
                    inter / len(sets[a] | sets[b]),
                )
    assert got == expect
    assert got[("a", "c")][2] == 0  # disjoint pairs present with zero overlap


def test_source_overlap_single_group_empty(spark):
    from sketchlib.spark.sampling import source_overlap

    df = spark.createDataFrame([("a", 1), ("a", 2)], "source string, fp int")
    assert source_overlap(df, "fp").count() == 0


def test_source_overlap_vs_sketch_jaccard(spark, seq_tiny_dir):
    """The exact matrix is the oracle for the sketch route (jaccard_df over
    per-source MinHash states): estimates within 4·se of exact Jaccard."""
    from sketchlib.spark.build import SketchSpec, build_sketches
    from sketchlib.spark.query import jaccard_df
    from sketchlib.spark.sampling import source_overlap

    df = spark.read.parquet(seq_tiny_dir)
    flat = df.select("source", F.explode("tokens").alias("tok"))
    exact = {
        (r["group_a"], r["group_b"]): r["jaccard"]
        for r in source_overlap(flat, "tok").collect()
    }
    states = build_sketches(
        df, [SketchSpec("mh", "minhash", "tokens", {"r": 256})], group_by="source"
    )
    est = jaccard_df(spark, states, "mh").collect()
    assert len(est) == len(exact) > 0
    for r in est:
        key = (r["group_a"], r["group_b"])
        assert abs(r["jaccard_est"] - exact[key]) <= 4 * r["se_bound"] + 0.02


# --- weighted_sample (Efraimidis-Spirakis deterministic draw) ----------------


def _es_ref(rows, k, seed, grouped=True):
    """hashlib reference of the identical priority + top-k selection."""
    import hashlib
    import math

    pri = {}
    for rid, grp, w in rows:
        if rid is None or w is None or w <= 0:
            continue
        key = int(hashlib.md5(f"{rid}:{seed}".encode()).hexdigest()[:15], 16)
        u = (key + 0.5) / float(1 << 60)
        pri.setdefault(grp if grouped else None, []).append((math.log(u) / w, -rid))
    kept = set()
    for grp, lst in pri.items():
        for p, nid in sorted(lst, reverse=True)[:k]:
            kept.add((-nid, grp))
    return kept


def test_weighted_sample_matches_reference_grouped(spark):
    from sketchlib.spark.sampling import weighted_sample

    rng = np.random.default_rng(3)
    rows = [
        (int(i), ["a", "b", "c"][i % 3], float(w))
        for i, w in enumerate(rng.uniform(0.1, 9.0, 200))
    ]
    rows += [(None, "a", 5.0), (900, "a", None), (901, "a", 0.0), (902, "a", -1.0)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    got = {
        (r["doc_id"], r["source"])
        for r in weighted_sample(df, 10, "w", group_col="source", seed=7).collect()
    }
    assert got == _es_ref(rows, 10, 7)


def test_weighted_sample_global_matches_reference(spark):
    from sketchlib.spark.sampling import weighted_sample

    rng = np.random.default_rng(4)
    rows = [(int(i), "g", float(w)) for i, w in enumerate(rng.uniform(0.5, 4.0, 150))]
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    got = {
        (r["doc_id"], None)
        for r in weighted_sample(df, 12, "w", seed=1).collect()
    }
    assert got == {(i, None) for i, g in _es_ref(rows, 12, 1, grouped=False)}


def test_weighted_sample_weight_monotone(spark):
    """Across many seeds, a 10x-weighted item is drawn far more often than a
    1x item (the ES inclusion-probability property, sanity-checked)."""
    from sketchlib.spark.sampling import weighted_sample

    rows = [(i, "g", 10.0 if i == 0 else 1.0) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w double").cache()
    heavy = light = 0
    for seed in range(40):
        kept = {r["doc_id"] for r in weighted_sample(df, 5, "w", seed=seed).collect()}
        heavy += 0 in kept
        light += 1 in kept
    assert heavy > light + 10  # w=10 item included ~3-5x as often as a w=1 item


def test_weighted_sample_plan_group_limit(spark):
    """Grouped path must push a partial WindowGroupLimit below the exchange
    (map tasks forward <= k rows per group)."""
    from sketchlib.spark.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, f"s{i % 3}", 1.0 + i) for i in range(50)],
        "doc_id long, source string, w double",
    )
    plan = (
        weighted_sample(df, 3, "w", group_col="source")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_weighted_sample_k_validation(spark):
    from sketchlib.spark.sampling import weighted_sample

    df = spark.createDataFrame([(1, "a", 1.0)], "doc_id long, source string, w double")
    with pytest.raises(ValueError, match="k must be positive"):
        weighted_sample(df, 0, "w")


def test_weighted_sample_nan_weight_excluded(spark):
    """Spark evaluates NaN > 0 as TRUE and sorts NaN first — a NaN weight
    must be excluded explicitly or it crowds out every valid row."""
    from sketchlib.spark.sampling import weighted_sample

    rows = [(i, "g", float("nan") if i < 5 else 1.0) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    kept = {r["doc_id"] for r in weighted_sample(df, 5, "w", seed=1).collect()}
    assert kept.isdisjoint({0, 1, 2, 3, 4})
    assert len(kept) == 5


def test_top_ngrams_by_hash_boundary_ties(spark):
    """Count ties spanning the old k*factor hash cut: 100 unigrams all at
    count 1 — the count-ranked threshold (plus the exact-plan fallback when
    the tied set is huge) must keep by_hash identical to the default."""
    from sketchlib.spark.text import top_ngrams

    df = spark.createDataFrame([([i],) for i in range(100)], "tokens array<int>")
    a = [(tuple(r["ngram"]), r["cnt"]) for r in top_ngrams(df, n=1, k=10).collect()]
    b = [
        (tuple(r["ngram"]), r["cnt"])
        for r in top_ngrams(df, n=1, k=10, by_hash=True, candidate_factor=2).collect()
    ]
    assert a == b == [((i,), 1) for i in range(10)]


def test_top_ngrams_by_hash_partial_boundary_tie(spark):
    """Mixed counts with a tie exactly AT the k-th rank: every tied gram
    must compete in the final (cnt DESC, ngram ASC) tie-break."""
    from sketchlib.spark.text import top_ngrams

    docs = [[7]] * 5 + [[3]] * 5 + [[9], [1], [4], [2]]  # 9,1,4,2 tie at cnt=1
    df = spark.createDataFrame([(d,) for d in docs], "tokens array<int>")
    a = [tuple(r["ngram"]) for r in top_ngrams(df, n=1, k=3).collect()]
    b = [tuple(r["ngram"]) for r in top_ngrams(df, n=1, k=3, by_hash=True).collect()]
    assert a == b == [(3,), (7,), (1,)]


def test_join_size_df_disjoint_groups_empty_frame(spark, seq_tiny_dir):
    from pyspark.sql import functions as F

    from sketchlib.spark.build import SketchSpec, build_sketches
    from sketchlib.spark.query import join_size_df

    df = spark.read.parquet(seq_tiny_dir)
    spec = [SketchSpec("cm_k", "cm", "n_tok", {"eps": 1e-3, "delta": 0.01})]
    sa = build_sketches(
        df.filter(F.col("source") == "web").select("source", "n_tok"), spec, group_by="source"
    )
    sb = build_sketches(
        df.filter(F.col("source") == "code").select("source", "n_tok"), spec, group_by="source"
    )
    out = join_size_df(spark, sa, sb, "cm_k")
    assert out.count() == 0
    assert out.columns == ["group", "join_rows_est", "join_rows_err"]


def test_jaccard_df_single_group_empty_frame(spark, seq_tiny_dir):
    from pyspark.sql import functions as F

    from sketchlib.spark.build import SketchSpec, build_sketches
    from sketchlib.spark.query import jaccard_df

    df = spark.read.parquet(seq_tiny_dir).filter(F.col("source") == "web")
    st = build_sketches(df, [SketchSpec("mh", "minhash", "tokens", {"r": 64})], group_by="source")
    out = jaccard_df(spark, st, "mh")
    assert out.count() == 0
    assert out.columns == ["group_a", "group_b", "jaccard_est", "se_bound"]


# --- source_divergence (unigram-distribution JSD matrix) ---------------------


def _jsd_ref(ca: dict, cb: dict) -> float:
    """numpy reference: base-2 Jensen-Shannon divergence over union support."""
    import math

    na, nb = sum(ca.values()), sum(cb.values())
    out = 0.0
    for w in set(ca) | set(cb):
        p = ca.get(w, 0) / na
        q = cb.get(w, 0) / nb
        m = (p + q) / 2
        if p:
            out += 0.5 * p * math.log2(p / m)
        if q:
            out += 0.5 * q * math.log2(q / m)
    return out


def test_source_divergence_matches_reference(spark):
    from collections import Counter

    from sketchlib.spark.sampling import source_divergence

    occ = {
        "a": ["x"] * 6 + ["y"] * 3 + ["z"],
        "b": ["x"] * 1 + ["y"] * 3 + ["w"] * 6,  # shared vocab, shifted mass
        "c": ["q"] * 4 + ["r"],                   # disjoint from a and b
        "d": ["x"] * 6 + ["y"] * 3 + ["z"],       # identical to a
    }
    rows = [(g, w) for g, ws in occ.items() for w in ws]
    rows += [(None, "x"), ("a", None)]  # excluded
    df = spark.createDataFrame(rows, "source string, w string")
    got = {
        (r["group_a"], r["group_b"]): (r["n_common"], r["js_divergence"])
        for r in source_divergence(df, "w").collect()
    }
    names = sorted(occ)
    assert set(got) == {(a, b) for a in names for b in names if a < b}
    for (a, b), (n_common, jsd) in got.items():
        ca, cb = Counter(occ[a]), Counter(occ[b])
        assert n_common == len(set(ca) & set(cb))
        assert abs(jsd - _jsd_ref(ca, cb)) < 1e-12
    # identical distributions: term_sum is exactly 0 (log2(1) per word) but
    # coverage sums carry ~1 ulp of float residue; disjoint support is exact
    # (cov = 0, term_sum = 0 => 0.5 + 0.5)
    assert got[("a", "d")][1] < 1e-12
    assert got[("a", "c")][1] == 1.0
    assert 0.0 < got[("a", "b")][1] < 1.0


def test_source_divergence_partition_invariant(spark):
    """Same matrix whatever the input partitioning (order-dependent float
    summation stays below the 1e-9 comparison tolerance by construction:
    per-pair term counts are vocabulary-sized)."""
    from sketchlib.spark.sampling import source_divergence

    rows = [(f"s{i % 3}", f"w{(i * 7) % 23}") for i in range(500)]
    df = spark.createDataFrame(rows, "source string, w string")
    base = {
        (r["group_a"], r["group_b"]): r["js_divergence"]
        for r in source_divergence(df, "w").collect()
    }
    shuffled = {
        (r["group_a"], r["group_b"]): r["js_divergence"]
        for r in source_divergence(df.repartition(11), "w").collect()
    }
    assert set(base) == set(shuffled)
    for k in base:
        assert abs(base[k] - shuffled[k]) < 1e-9


# --- tfidf_terms (per-group characteristic terms) ----------------------------


def _tfidf_ref(docs: list[tuple[str, str, list[str]]], k: int):
    """Python reference: top-k per group by (tf·ln(N/df) DESC, term ASC)."""
    import math
    from collections import Counter

    n = len(docs)
    dfreq = Counter(w for _, _, toks in docs for w in set(toks))
    tf = Counter((g, w) for _, g, toks in docs for w in toks)
    out = {}
    for g in {g for _, g, _ in docs}:
        scored = [
            (w, c, dfreq[w], c * math.log(n / dfreq[w]))
            for (gg, w), c in tf.items()
            if gg == g
        ]
        scored.sort(key=lambda t: (-t[3], t[0]))
        out[g] = scored[:k]
    return out


def test_tfidf_terms_matches_python_reference(spark):
    from sketchlib.spark.text import tfidf_terms

    docs = [
        (f"d{i}", f"s{i % 2}", ["the", f"topic{i % 2}"] + [f"rare{i}"] * (i % 3))
        for i in range(12)
    ]
    df = spark.createDataFrame(docs, "doc_id string, source string, tokens array<string>")
    ref = _tfidf_ref(docs, 4)
    got = {}
    for r in tfidf_terms(df, k=4).collect():
        got.setdefault(r["group"], []).append(
            (r["term"], r["tf"], r["doc_freq"], r["tfidf"], r["rank"])
        )
    assert set(got) == set(ref)
    for g in ref:
        rows = sorted(got[g], key=lambda t: t[4])
        assert [t[0] for t in rows] == [t[0] for t in ref[g]]
        for (term, tf, dfr, score, rank), (rterm, rtf, rdf, rscore) in zip(rows, ref[g]):
            assert (tf, dfr) == (rtf, rdf)
            assert abs(score - rscore) < 1e-12
        assert [t[4] for t in rows] == list(range(1, len(rows) + 1))


def test_tfidf_terms_ubiquitous_term_scores_zero(spark):
    """A term in EVERY document has idf = ln(1) = 0 exactly — boilerplate
    self-cancels without a stopword list."""
    from sketchlib.spark.text import tfidf_terms

    docs = [(f"d{i}", "s0", ["every", f"only{i}"]) for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id string, source string, tokens array<string>")
    rows = {r["term"]: r for r in tfidf_terms(df, k=100).collect()}
    assert rows["every"]["tfidf"] == 0.0
    assert all(r["tfidf"] > 0 for t, r in rows.items() if t != "every")
    assert rows["every"]["rank"] == len(rows)  # zero score sinks to the bottom


def test_tfidf_terms_plan_group_limit(spark):
    """The per-group top-k must plan as a partial WindowGroupLimit below the
    exchange (map tasks forward <= k scored rows per group, not G·vocab)."""
    from sketchlib.spark.text import tfidf_terms

    df = spark.createDataFrame(
        [(f"d{i}", f"s{i % 3}", [f"w{j}" for j in range(i % 7 + 1)]) for i in range(60)],
        "doc_id string, source string, tokens array<string>",
    )
    plan = tfidf_terms(df, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


# --- zipf_fit (rank-frequency regression) ------------------------------------


def test_zipf_fit_matches_numpy_ols(spark):
    import math

    import numpy as np

    from sketchlib.spark.text import zipf_fit

    # group "z": counts 16/8/4/2/1 — a perfect slope -1 line in log2 space
    # (checked in NATURAL log below, where it is -ln 2 per ln-rank... not
    # linear in ln(rank), so the numpy OLS is the reference, not a formula)
    docs = [
        ("z", ["a"] * 16 + ["b"] * 8 + ["c"] * 4 + ["d"] * 2 + ["e"]),
        ("one", ["solo"] * 7),                      # single term: NULL fit
        ("flat", ["x", "y", "z"]),                  # equal counts: slope 0, r2 NULL
    ]
    df = spark.createDataFrame(docs, "source string, tokens array<string>")
    rows = {r["group"]: r for r in zipf_fit(df, "tokens").collect()}

    counts = np.array([16, 8, 4, 2, 1], dtype=float)
    x = np.log(np.arange(1, 6, dtype=float))
    y = np.log(counts)
    slope_ref, intercept_ref = np.polyfit(x, y, 1)
    r_ref = np.corrcoef(x, y)[0, 1]
    z = rows["z"]
    assert z["n_terms"] == 5 and z["n_tokens"] == 31
    assert math.isclose(z["slope"], slope_ref, abs_tol=1e-9)
    assert math.isclose(z["intercept"], intercept_ref, abs_tol=1e-9)
    assert math.isclose(z["r2"], r_ref**2, abs_tol=1e-9)

    one = rows["one"]
    assert one["n_terms"] == 1 and one["n_tokens"] == 7
    assert one["slope"] is None and one["intercept"] is None and one["r2"] is None

    flat = rows["flat"]
    assert flat["n_terms"] == 3 and flat["n_tokens"] == 3
    assert abs(flat["slope"]) < 1e-12  # y constant => cov = 0 => slope 0
    assert flat["r2"] is None          # vy = 0: r2 undefined, loud NULL


def test_zipf_fit_round_to_and_order(spark):
    from sketchlib.spark.text import zipf_fit

    df = spark.createDataFrame(
        [("b", ["t", "t", "u"]), ("a", ["p", "p", "p", "q", "q", "r"])],
        "source string, tokens array<string>",
    )
    out = zipf_fit(df, "tokens", round_to=6).collect()
    assert [r["group"] for r in out] == ["a", "b"]
    for r in out:
        # 6-dp rounding applied
        assert r["slope"] == round(r["slope"], 6)


# --- centroid_similarity (per-group embedding centroid cosine) ---------------


def test_centroid_similarity_matches_numpy(spark):
    import numpy as np

    from sketchlib.spark.ann import centroid_similarity

    vecs = {
        "a": [[1.0, 0.0, 0.0], [1.0, 0.2, 0.0]],
        "b": [[0.0, 1.0, 0.0], [0.0, 1.0, 0.1]],   # ~orthogonal to a
        "c": [[1.0, 0.0, 0.0], [1.0, 0.2, 0.0]],   # identical centroid to a
        "z": [[0.0, 0.0, 0.0]],                     # zero centroid: NULL cosine
    }
    rows = [(g, v) for g, vs in vecs.items() for v in vs]
    rows += [(None, [1.0, 1.0, 1.0]), ("a", None)]  # excluded
    df = spark.createDataFrame(rows, "label string, embedding array<double>")
    got = {
        (r["group_a"], r["group_b"]): (r["dim"], r["cosine"])
        for r in centroid_similarity(df, "embedding", "label").collect()
    }
    names = sorted(vecs)
    assert set(got) == {(x, y) for x in names for y in names if x < y}
    cents = {g: np.mean(np.array(vs), axis=0) for g, vs in vecs.items()}

    def cos(u, v):
        d = float(np.dot(u, v))
        nu, nv = float(np.linalg.norm(u)), float(np.linalg.norm(v))
        return d / (nu * nv) if nu and nv else None

    for (x, y), (dim, c) in got.items():
        assert dim == 3
        ref = cos(cents[x], cents[y])
        if ref is None:
            assert c is None
        else:
            assert abs(c - ref) < 1e-12
    assert abs(got[("a", "c")][1] - 1.0) < 1e-12
    assert abs(got[("a", "b")][1]) < 0.25  # near-orthogonal


def test_centroid_similarity_float32_input_and_rounding(spark):
    from sketchlib.spark.ann import centroid_similarity

    df = spark.createDataFrame(
        [(0, [0.5, 0.25]), (0, [0.75, 0.125]), (1, [0.25, 0.5])],
        "label int, embedding array<float>",
    )
    out = centroid_similarity(df, "embedding", "label", round_to=6).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["group_a"], r["group_b"], r["dim"]) == ("0", "1", 2)
    assert r["cosine"] == round(r["cosine"], 6)


# --- pmi_collocations ---------------------------------------------------------


def test_pmi_collocations_matches_reference(spark):
    import math
    from collections import Counter

    from sketchlib.spark.text import pmi_collocations

    docs = [
        ["new", "york", "is", "big"],
        ["new", "york", "is", "old"],
        ["new", "york", "news"],
        ["big", "old", "news"],
        ["is", "new", "is", "old"],
    ]
    df = spark.createDataFrame([(d,) for d in docs], "tokens array<string>")
    got = pmi_collocations(df, "tokens", k=50, min_count=2).collect()

    bigs = Counter()
    unis = Counter()
    for d in docs:
        unis.update(d)
        bigs.update(zip(d, d[1:]))
    n_big, n_uni = sum(bigs.values()), sum(unis.values())

    def ref_pmi(a, b):
        return math.log2(
            (bigs[(a, b)] / n_big) / ((unis[a] / n_uni) * (unis[b] / n_uni))
        )

    expect = sorted(
        [(a, b) for (a, b), c in bigs.items() if c >= 2],
        key=lambda p: (-ref_pmi(*p), p[0], p[1]),
    )
    assert [(r["w1"], r["w2"]) for r in got] == expect
    for r in got:
        assert r["pair_count"] == bigs[(r["w1"], r["w2"])]
        assert r["count_a"] == unis[r["w1"]] and r["count_b"] == unis[r["w2"]]
        assert abs(r["pmi"] - ref_pmi(r["w1"], r["w2"])) < 1e-12
    # "new york" appears 3x and is the corpus's collocation
    assert (got[0]["w1"], got[0]["w2"]) == ("new", "york")


def test_pmi_collocations_min_count_and_k(spark):
    import pytest as _pytest

    from sketchlib.spark.text import pmi_collocations

    df = spark.createDataFrame(
        [(["a", "b", "a", "b", "c", "d"],)], "tokens array<string>"
    )
    out = pmi_collocations(df, "tokens", k=10, min_count=2).collect()
    assert len(out) == 1  # only ("b","a")? no: pairs ab ab ba bc cd -> ab x2
    assert (out[0]["w1"], out[0]["w2"]) == ("a", "b") and out[0]["pair_count"] == 2
    assert len(pmi_collocations(df, "tokens", k=1, min_count=1).collect()) == 1
    with _pytest.raises(ValueError):
        pmi_collocations(df, "tokens", k=0)
    with _pytest.raises(ValueError):
        pmi_collocations(df, "tokens", min_count=0)


# --- histogram_df -------------------------------------------------------------


def test_histogram_df_basic_and_zero_fill(spark):
    from sketchlib.spark.sampling import histogram_df

    df = spark.createDataFrame(
        [(v,) for v in [0.0, 1.0, 2.5, 4.9, 5.0, 10.0, None]], "x double"
    )
    out = histogram_df(df, "x", bins=4, lo=0.0, hi=10.0).collect()
    assert [r["bin"] for r in out] == [0, 1, 2, 3]
    # width 2.5: [0,2.5)->0,1; [2.5,5)->2.5,4.9; [5,7.5)->5.0; [7.5,10]->10.0
    assert [r["cnt"] for r in out] == [2, 2, 1, 1]
    assert out[0]["lo_edge"] == 0.0 and out[-1]["hi_edge"] == 10.0
    total = sum(r["cnt"] for r in out)
    assert total == 6  # NULL excluded


def test_histogram_df_out_of_range_excluded_and_hi_in_last_bin(spark):
    from sketchlib.spark.sampling import histogram_df

    df = spark.createDataFrame(
        [(v,) for v in [-1.0, 0.0, 9.99, 10.0, 10.01]], "x double"
    )
    out = histogram_df(df, "x", bins=2, lo=0.0, hi=10.0).collect()
    assert sum(r["cnt"] for r in out) == 3  # -1.0 and 10.01 excluded
    assert out[-1]["cnt"] == 2  # 9.99 and exactly-hi 10.0


def test_histogram_df_grouped_shares_global_edges(spark):
    from sketchlib.spark.sampling import histogram_df

    df = spark.createDataFrame(
        [("a", 0.0), ("a", 1.0), ("b", 9.0), ("b", 10.0), (None, 5.0)],
        "g string, x double",
    )
    out = histogram_df(df, "x", bins=5, group_col="g").collect()
    # auto lo/hi from GLOBAL min/max (0..10), NULL group excluded,
    # both groups zero-filled to all 5 bins
    assert len(out) == 10
    by_g = {}
    for r in out:
        by_g.setdefault(r["group"], []).append(r)
    assert set(by_g) == {"a", "b"}
    for g, rows in by_g.items():
        assert [r["bin"] for r in rows] == [0, 1, 2, 3, 4]
        assert rows[0]["lo_edge"] == 0.0 and rows[-1]["hi_edge"] == 10.0
    assert [r["cnt"] for r in by_g["a"]] == [2, 0, 0, 0, 0]
    assert [r["cnt"] for r in by_g["b"]] == [0, 0, 0, 0, 2]


def test_histogram_df_validation(spark):
    import pytest as _pytest

    from sketchlib.spark.sampling import histogram_df

    df = spark.createDataFrame([(1.0,)], "x double")
    with _pytest.raises(ValueError):
        histogram_df(df, "x", bins=0)
    with _pytest.raises(ValueError):
        histogram_df(df, "x", bins=4, lo=5.0, hi=5.0)


def test_contamination_fuzzy_catches_paraphrase_exact_misses(spark, seq_tiny_dir):
    """The motivating case: an eval doc that is a train doc with every 8th
    token substituted has ZERO shared 8-grams (runs of 7 < 8) — exact
    decontamination is blind to it — while its 3-gram shingle-set Jaccard
    stays ~0.45 and the fuzzy pass flags every planted pair. The size-gate
    fallback returns the identical pair set, and a precomputed train
    signature table (the dedup_delta artifact) reproduces it without
    touching the train raw data."""
    from sketchlib.spark.dedup import (
        contamination_fuzzy,
        contamination_pairs,
        minhash_signatures,
        with_token_ngrams,
    )

    train = spark.read.parquet(seq_tiny_dir)
    victims = [r["doc_id"] for r in
               train.filter(F.size("tokens") >= 64)
               .select("doc_id").orderBy("doc_id").limit(5).collect()]
    evals = (
        train.filter(F.col("doc_id").isin(victims))
        .select(
            F.concat(F.lit("eval_"), F.col("doc_id")).alias("doc_id"),
            F.expr(
                "transform(tokens, (x, i) -> CASE WHEN i % 8 = 0 "
                "THEN CAST(x + 1 AS INT) ELSE x END)"
            ).alias("tokens"),
        )
        .localCheckpoint()
    )
    planted = {(v, f"eval_{v}") for v in victims}

    # exact 8-gram decon: nothing to find (no 8 consecutive unchanged tokens)
    exact = contamination_pairs(train, evals, n=8).collect()
    assert exact == []

    kw = dict(n=3, r=128, n_bands=64, threshold=0.3)
    fuzzy = contamination_fuzzy(train, evals, **kw).collect()
    got = {(r["train_id"], r["eval_id"]) for r in fuzzy}
    assert planted <= got
    assert all(r["jaccard_est"] >= 0.3 for r in fuzzy)

    # size-gate fallback: pair-identical
    shuffled = contamination_fuzzy(train, evals, broadcast_threshold=1, **kw).collect()
    assert {(r["train_id"], r["eval_id"]) for r in shuffled} == got

    # persisted-signature reuse: same contract, same pairs, train never signed
    tsigs = minhash_signatures(
        with_token_ngrams(train, "tokens", n=3, out="_fz_sh", element_cast="BIGINT"),
        "_fz_sh", "doc_id", r=128, n_bands=64, seed=17,
    ).localCheckpoint()
    reused = contamination_fuzzy(
        train.limit(0), evals, train_sigs=tsigs, **kw
    ).collect()
    assert {(r["train_id"], r["eval_id"]) for r in reused} == got


def test_contamination_fuzzy_shingles_beat_raw_sets_on_small_vocab(spark):
    """Raw token SETS collide across unrelated docs when the vocabulary is
    small (every doc ≈ the whole vocab) — n-gram shingling is what makes
    fuzzy matching meaningful there, exactly like c10's n-gram MinHash."""
    import numpy as np

    from sketchlib.spark.dedup import contamination_fuzzy

    rng = np.random.default_rng(7)
    mk = lambda: [int(x) for x in rng.integers(0, 20, 200)]  # 20-token vocab
    docs = [(f"t{i}", mk()) for i in range(30)]
    train = spark.createDataFrame(docs, "doc_id string, tokens array<int>")
    # one true near-copy (every 10th token bumped), one unrelated fresh doc
    copy = [t + 1 if i % 10 == 0 else t for i, t in enumerate(docs[3][1])]
    evals = spark.createDataFrame(
        [("e_copy", copy), ("e_fresh", mk())], "doc_id string, tokens array<int>"
    )
    raw = contamination_fuzzy(train, evals, threshold=0.9).collect()
    # raw sets: everything matches everything (vocab exhausted) — useless
    assert len({r["train_id"] for r in raw}) > 10
    sh = contamination_fuzzy(
        train, evals, n=4, r=128, n_bands=64, threshold=0.3
    ).collect()
    got = {(r["train_id"], r["eval_id"]) for r in sh}
    assert ("t3", "e_copy") in got
    assert not any(e == "e_fresh" for _, e in got)


def test_empty_docs_never_enter_lsh_buckets(spark):
    """Review fix: docs with an empty token (or shingle) array get an EMPTY
    bands array — the all-max sentinel signature must not make every short
    doc an estimated-1.0 duplicate of every other."""
    from sketchlib.spark.dedup import contamination_fuzzy, minhash_signatures

    df = spark.createDataFrame(
        [("e1", []), ("e2", []), ("ok", list(range(40)))],
        "doc_id string, tokens array<int>",
    )
    sigs = {r["doc_id"]: r for r in minhash_signatures(df, "tokens", "doc_id", r=32, n_bands=8).collect()}
    assert sigs["e1"]["bands"] == [] and sigs["e2"]["bands"] == []
    assert len(sigs["ok"]["bands"]) == 8
    # two unrelated sub-shingle-length docs (1-2 tokens, shingle n=3):
    # the old sentinel verified them at jaccard_est 1.0
    train = spark.createDataFrame(
        [("t_short", [7]), ("t_real", list(range(100)))],
        "doc_id string, tokens array<int>",
    )
    evals = spark.createDataFrame(
        [("ev_short", [9, 11]), ("ev_copy", list(range(100)))],
        "doc_id string, tokens array<int>",
    )
    hits = contamination_fuzzy(train, evals, n=3, r=32, n_bands=8, threshold=0.5).collect()
    pairs = {(r["train_id"], r["eval_id"]) for r in hits}
    assert ("t_short", "ev_short") not in pairs
    assert ("t_real", "ev_copy") in pairs


def test_dedup_delta_geometry_probe_skips_empty_docs(spark):
    """The n_bands probe must read a row that actually entered a bucket —
    not an empty-token doc whose bands array is empty."""
    from sketchlib.spark.dedup import dedup_delta, minhash_signatures

    corpus = spark.createDataFrame(
        [("empty", []), ("a", list(range(60)))],
        "doc_id string, tokens array<int>",
    )
    sigs = minhash_signatures(corpus, "tokens", "doc_id", r=64, n_bands=16)
    # force the empty row first so .first() would have seen b=0 pre-fix
    sigs = sigs.orderBy("doc_id").coalesce(1)
    delta = spark.createDataFrame(
        [("dup_a", list(range(60))), ("new", list(range(200, 260)))],
        "doc_id string, tokens array<int>",
    )
    kept, _ = dedup_delta(delta, existing_sigs=sigs, seed=17)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert kept_ids == {"new"}

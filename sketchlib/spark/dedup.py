"""Deduplication operators for training-data pipelines.

Not part of Verdict's surface (the reference is a query middleware), but
first-class for a 100 TB token-corpus engine; all built Spark-first:

- exact_dedup:      hash-groupBy — shuffles only (hash, id) pairs, never the
                    payload; winners semi-join back to the full rows.
- minhash_lsh:      per-doc MinHash signatures (vectorized batch kernel:
                    ONE np.minimum.reduceat per permutation chunk over the
                    flattened token stream — no per-row Python), banded LSH
                    bucketing, candidate verification by signature agreement,
                    duplicate clusters closed by iterative min-id propagation
                    (converges in O(log |cluster|) joins).
- simhash:          64-bit SimHash per doc in two vectorized ops per batch
                    (np.unpackbits + one 2D np.add.reduceat), banded into
                    4×16-bit chunks for Hamming-distance candidates.
- ngram MinHash:    token n-gram shingles hashed JVM-side (higher-order
                    structure than unigram sets), then the same LSH path.

Scale notes: signatures are ~1 KB/doc; every shuffle below moves signatures
or (key, id) pairs, never token payloads. Band width trades recall/precision:
P(pair in ≥1 band) = 1 − (1 − J^rows_per_band)^n_bands.
"""

from __future__ import annotations

import math
import re
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from sketchlib.hashing import splitmix64
from sketchlib.sketches.minhash import _perm_consts


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per distinct content value.

    The winner set is computed over (content-hash, id) pairs only — at corpus
    scale the shuffle carries ~16 bytes/row, not documents. A 64-bit hash
    collision (P ≈ n²/2^65) would merge two distinct docs; callers needing
    certainty can group on the raw content at higher shuffle cost.
    """
    h = F.xxhash64(F.col(content_col)).alias("_h")
    winners = (
        df.select(h, F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(winners, id_col, "leftsemi")


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 3,
    sep: str = "\n",
) -> tuple[DataFrame, DataFrame]:
    """C4-style line-level corpus dedup (boilerplate removal): delete every
    line whose exact text occurs >= ``min_count`` times ACROSS the corpus
    (within-doc repeats count), reassembling each document with its kept
    lines in original order. This is the stage that strips "Subscribe to
    our newsletter" / nav bars / license footers from web corpora (C4,
    Raffel et al. 2020 §2.2 used three-sentence spans; the unit here is the
    ``sep``-delimited line). The EMPTY line is exempt — blank lines are
    paragraph separators and would otherwise be stripped corpus-wide.

    Returns (cleaned, report):

    - cleaned = (id_col, <text_col>_clean, n_kept, n_removed) — a doc whose
      every line is boilerplate survives with '' (dropping is the caller's
      policy);
    - report  = one row: (n_docs, n_lines, n_removed, n_heavy_lines).

    Scale shape: line counting shuffles (line, 1) pairs WITH map-side
    partial aggregation — boilerplate by definition repeats, so the
    post-combine volume is ~distinct lines, not corpus lines. The heavy set
    (distinct lines at/over min_count) is small by construction and AQE
    broadcasts the membership join; reassembly then shuffles each KEPT line
    once, keyed by doc — the one unavoidable payload shuffle, since the
    output interleaves corpus-global knowledge back into per-doc order.
    NULL texts pass through as NULL with zero counts. As with
    filter_documents, ``cleaned`` and ``report`` are independent plans —
    evaluating both scans the input twice (cache/checkpoint the input when
    the scan dominates).
    """
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    # split() takes a regex but sep is a literal delimiter (it is also
    # reused verbatim by concat_ws on reassembly) — escape it
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(re.escape(sep)), -1)).alias(
            "_pos", "_line"
        ),
    )
    # the empty line is exempt: blank lines are PARAGRAPH SEPARATORS, and
    # '' is trivially >= min_count corpus-wide — without the exemption every
    # document's paragraph structure would be silently collapsed (C4 removed
    # repeated content spans, not structural whitespace)
    heavy = (
        lines.filter(F.col("_line") != "")
        .groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_count)
        .select("_line", F.lit(True).alias("_heavy"))
    )
    marked = lines.join(heavy, "_line", "left").select(
        id_col, "_pos", "_line", F.coalesce("_heavy", F.lit(False)).alias("_heavy")
    )
    clean_name = f"{text_col}_clean"
    cleaned = (
        marked.groupBy(id_col)
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~F.col("_heavy"), F.struct("_pos", "_line"))
                        )
                    ),
                    lambda s: s["_line"],
                ),
            ).alias(clean_name),
            F.sum(F.when(F.col("_heavy"), 0).otherwise(1)).alias("n_kept"),
            F.sum(F.when(F.col("_heavy"), 1).otherwise(0)).alias("n_removed"),
        )
    )
    # NULL text explodes to nothing — restore those ids untouched
    cleaned = (
        df.select(id_col, F.col(text_col).alias("_orig"))
        .join(cleaned, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_orig").isNull(), F.lit(None))
            .otherwise(F.coalesce(clean_name, F.lit("")))
            .alias(clean_name),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        )
    )
    report = lines.join(heavy, "_line", "left").agg(
        F.count_distinct(F.col(id_col)).alias("n_docs"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("_heavy"), 1).otherwise(0)).alias("n_removed"),
    )
    report = report.crossJoin(heavy.agg(F.count(F.lit(1)).alias("n_heavy_lines")))
    return cleaned, report


# --------------------------------------------------------------------------
# per-document MinHash signatures (vectorized)
# --------------------------------------------------------------------------

def _batch_minhash(flat: np.ndarray, offsets: np.ndarray, r: int, seed: int) -> np.ndarray:
    """(n_rows, r) uint64 signatures of token-array rows.

    For each chunk of permutations: rehash the flattened token stream once,
    then one np.minimum.reduceat over row offsets — O(T) per permutation,
    zero per-row Python. Rows with no tokens get all-max signatures.
    """
    n_rows = len(offsets) - 1
    sig = np.full((n_rows, r), np.uint64(0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
    if len(flat) == 0:
        return sig
    base = splitmix64(flat.astype(np.uint64))
    consts = _perm_consts(r, seed)
    starts = offsets[:-1]
    nonempty = offsets[1:] > starts
    # reduceat indices must be in-bounds: a TRAILING empty row has
    # start == len(flat), and clipping it to len(flat)-1 would end the last
    # non-empty row's slice one token early (batch-boundary-dependent
    # signatures — silent doc loss). Drop out-of-range starts instead; every
    # non-empty row has start < len(flat), and the last in-bounds start is
    # always a non-empty row, so its slice correctly runs to the end.
    valid = starts < len(flat)
    chunk = max(1, (4 << 20) // max(len(flat), 1))  # ~32MB of uint64 per slab
    for c0 in range(0, r, chunk):
        cs = consts[c0 : c0 + chunk]
        mixed = splitmix64((base[:, None] ^ cs[None, :]).ravel()).reshape(len(base), len(cs))
        red = np.minimum.reduceat(mixed, starts[valid], axis=0)
        sig[nonempty, c0 : c0 + len(cs)] = red[nonempty[valid]]
    return sig


def _band_hashes(sig: np.ndarray, n_bands: int, seed: int) -> np.ndarray:
    """(n_rows, n_bands) uint64: hash of each signature band."""
    n, r = sig.shape
    assert r % n_bands == 0, "r must be divisible by n_bands"
    w = r // n_bands
    bands = sig.reshape(n, n_bands, w)
    acc = np.zeros((n, n_bands), dtype=np.uint64)
    for j in range(w):  # tiny loop (w ~ 4-8), vectorized inside
        acc = splitmix64(acc ^ bands[:, :, j])
    return acc ^ (np.arange(n_bands, dtype=np.uint64) * np.uint64(seed * 2 + 1))[None, :]


def minhash_signatures(
    df: DataFrame, tokens_col: str, id_col: str, r: int = 128, n_bands: int = 32, seed: int = 17
) -> DataFrame:
    """id, sig (array<long>, the r minima as int64 bit-patterns), band_hash
    array — one row per document. Signatures are arrays (not binary) so the
    verification step compares them JVM-side with zip_with/aggregate inside
    whole-stage codegen — no Python in the per-pair hot path.

    Rows whose token array is EMPTY (e.g. a doc shorter than the shingle
    order) keep the kernel's all-max sentinel ``sig`` but get an EMPTY
    ``bands`` array, so they never enter any LSH bucket: the Jaccard of an
    empty set is 0 by convention, and the sentinel bands would otherwise
    make every empty doc a mutual estimated-1.0 duplicate of every other
    (silently dropping unrelated short docs in dedup/decontamination)."""
    out_schema = f"{id_col} string, sig array<long>, bands array<long>"
    id_is_long = dict(df.dtypes)[id_col] in ("bigint", "int")
    if id_is_long:
        out_schema = f"{id_col} long, sig array<long>, bands array<long>"

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids = b.column(b.schema.get_field_index(id_col))
            col = b.column(b.schema.get_field_index(tokens_col))
            flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            lens = pa.compute.list_value_length(col).to_numpy(zero_copy_only=False)
            offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
            sig = _batch_minhash(flat, offsets, r, seed)
            bh = _band_hashes(sig, n_bands, seed).astype(np.int64)
            n = len(sig)
            sig_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * r, r, dtype=np.int32)),
                pa.array(sig.view(np.int64).ravel()),
            )
            nonempty = lens > 0
            band_counts = np.where(nonempty, n_bands, 0).astype(np.int64)
            band_offsets = np.concatenate([[0], np.cumsum(band_counts)]).astype(np.int32)
            bands_arr = pa.ListArray.from_arrays(
                pa.array(band_offsets),
                pa.array(bh[nonempty].ravel() if n else np.array([], np.int64)),
            )
            yield pa.RecordBatch.from_arrays(
                [ids, sig_arr, bands_arr],
                names=[id_col, "sig", "bands"],
            )

    return df.select(id_col, tokens_col).mapInArrow(fn, out_schema)


def _cap_buckets(exploded: DataFrame, bucket_cols: list[str], max_bucket: int | None) -> DataFrame:
    """Drop rows in buckets larger than max_bucket — a degenerate hot bucket
    (e.g. thousands of byte-identical boilerplate docs sharing every band)
    otherwise makes the self-join quadratic in that bucket. One count-over-
    window on the same keys the join shuffles on. Dropped buckets lose
    recall for their members only; callers can inspect them via
    ``oversized_buckets`` before choosing the cap."""
    if max_bucket is None:
        return exploded
    from pyspark.sql import Window

    w = Window.partitionBy(*bucket_cols)
    return (
        exploded.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )


def oversized_buckets(sig_df: DataFrame, max_bucket: int) -> DataFrame:
    """(bh, n_members) for LSH band buckets above the cap — the report of
    what ``candidate_pairs(max_bucket=...)`` would skip."""
    return (
        sig_df.select(F.explode("bands").alias("bh"))
        .groupBy("bh")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > max_bucket)
    )



def _sig_agreement(a: str, b: str):
    """Number of agreeing minima between two signature columns — the
    load-bearing Jaccard-estimate numerator, shared by the batch
    (candidate_pairs) and incremental (dedup_delta) verification paths."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def candidate_pairs(
    sig_df: DataFrame, id_col: str, threshold: float = 0.8, max_bucket: int | None = 5000
) -> DataFrame:
    """LSH candidate pairs verified by signature agreement ≥ threshold.

    The band join shuffles (id, band_hash) pairs ONLY — signatures are joined
    back by id after candidate dedup, so the ~1 KB sig is never replicated
    per band. Verification is pure JVM (zip_with + aggregate, whole-stage
    codegen): est_J = fraction of agreeing minima. Buckets larger than
    ``max_bucket`` are skipped (see _cap_buckets). Output: (id_a, id_b,
    jaccard_est) with id_a < id_b.
    """
    bands_only = _cap_buckets(
        sig_df.select(F.col(id_col), F.explode("bands").alias("bh")), ["bh"], max_bucket
    )
    a = bands_only.alias("a")
    b = bands_only.alias("b")
    pairs = (
        a.join(b, (F.col("a.bh") == F.col("b.bh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sig_df.select(F.col(id_col).alias("id_a"), F.col("sig").alias("_sa"))
    sb = sig_df.select(F.col(id_col).alias("id_b"), F.col("sig").alias("_sb"))
    n_agree = _sig_agreement("_sa", "_sb")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard_est", n_agree / F.size("_sa"))
        .filter(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


def cluster_min_id(pairs: DataFrame, all_ids: DataFrame, id_col: str, max_iter: int = 10) -> DataFrame:
    """Connected components by min-id propagation WITH pointer jumping.

    Returns (id, rep) where rep is the cluster's minimum id. Each round does
    (1) hook: rep'(x) = min(rep(x), min over neighbors y of rep(y)), then
    (2) jump: rep''(x) = rep'(rep'(x)) — the jump halves remaining chain
    depth, so convergence is O(log diameter) rounds even on a path graph
    (plain one-hop propagation is O(diameter); a >max_iter chain would have
    silently split one cluster into several representatives). Raises if the
    fixpoint is not reached within max_iter. Each round shuffles (id, rep)
    pairs only — never payloads.
    """
    edges = (
        pairs.select(F.col("id_a").alias("x"), F.col("id_b").alias("y"))
        .unionByName(pairs.select(F.col("id_b").alias("x"), F.col("id_a").alias("y")))
    )
    rep = all_ids.select(F.col(id_col).alias("x"), F.col(id_col).alias("rep"))
    converged = False
    for _ in range(max_iter):
        # hook: pull the smallest rep seen in the direct neighborhood
        nbr_min = (
            edges.join(rep.withColumnRenamed("x", "y"), "y")
            .groupBy("x")
            .agg(F.min("rep").alias("nrep"))
        )
        hooked = (
            rep.join(nbr_min, "x", "left")
            .select("x", F.least("rep", F.coalesce("nrep", "rep")).alias("rep"))
        )
        # jump: follow rep one more level (rep(x) <- rep(rep(x))); rep values
        # are themselves ids in all_ids, so the self-join always resolves
        jump = hooked.select(F.col("x").alias("rep"), F.col("rep").alias("_rep2"))
        new_rep = (
            hooked.join(jump, "rep", "left")
            .select("x", F.coalesce("_rep2", F.col("rep")).alias("rep"))
        )
        new_rep = new_rep.localCheckpoint()  # truncate the growing lineage
        changed = (
            new_rep.alias("n")
            .join(rep.alias("o"), "x")
            .filter(F.col("n.rep") != F.col("o.rep"))
            .limit(1)
            .count()
        )
        rep = new_rep
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"cluster_min_id did not converge in {max_iter} rounds — raise max_iter "
            "(with pointer jumping this needs a component of diameter > 2^max_iter)"
        )
    return rep.select(F.col("x").alias(id_col), F.col("rep"))


def minhash_lsh_dedup(
    df: DataFrame,
    tokens_col: str,
    id_col: str,
    r: int = 128,
    n_bands: int = 32,
    threshold: float = 0.8,
    max_bucket: int | None = 5000,
    keep_by: str | None = None,
) -> DataFrame:
    """Near-duplicate removal: keep one representative per cluster.

    Default representative is the MIN id (deterministic, join-free).
    ``keep_by`` names a SCORE column (e.g. a quality score from
    text.with_quality_score) and keeps each cluster's HIGHEST-scoring row
    instead — the real pipeline policy: near-dup groups usually contain one
    clean original and several boilerplate-wrapped copies, and min-id keeps
    an arbitrary one. Ties break to min id (deterministic). The selection
    is one window over (cluster rep) — cluster-count-sized, not corpus-
    sized, and only (id, rep, score) rows shuffle, never payloads."""
    # materialize signatures ONCE: candidate_pairs references them in three
    # subtrees (band join + both sides of the sig join), and cluster_min_id
    # re-evaluates its edge input every round — without this the Python
    # signature kernel would run 3× per evaluation × rounds
    sigs = minhash_signatures(df, tokens_col, id_col, r=r, n_bands=n_bands).localCheckpoint()
    pairs = candidate_pairs(sigs, id_col, threshold=threshold, max_bucket=max_bucket).localCheckpoint()
    clusters = cluster_min_id(pairs, df.select(id_col), id_col)
    if keep_by is None:
        keep = clusters.filter(F.col(id_col) == F.col("rep")).select(id_col)
    else:
        from pyspark.sql import Window

        scored = clusters.join(df.select(id_col, keep_by), id_col)
        w = Window.partitionBy("rep").orderBy(F.desc(keep_by), F.asc(id_col))
        keep = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(id_col)
        )
    return df.join(keep, id_col, "leftsemi")


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def _batch_simhash(flat: np.ndarray, offsets: np.ndarray, seed: int) -> np.ndarray:
    """64-bit SimHash per row: sign of per-bit vote sums, two vectorized ops."""
    n_rows = len(offsets) - 1
    if len(flat) == 0:
        return np.zeros(n_rows, dtype=np.int64)
    h = splitmix64(flat.astype(np.uint64) ^ splitmix64(np.array([seed], np.uint64))[0])
    bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")  # (T, 64)
    # same in-bounds rule as _batch_minhash: drop trailing-empty starts
    # (clipping them would truncate the last non-empty row's vote sum)
    starts = offsets[:-1]
    valid = starts < len(flat)
    sums = np.zeros((n_rows, 64), dtype=np.int32)
    sums[valid] = np.add.reduceat(bits.astype(np.int32), starts[valid], axis=0)  # (n_rows, 64)
    lens = np.diff(offsets)
    bitvals = (2 * sums > lens[:, None]).astype(np.uint8)
    bitvals[lens == 0] = 0
    return np.packbits(bitvals, axis=1, bitorder="little").view(np.int64).ravel()


def simhash_df(df: DataFrame, tokens_col: str, id_col: str, seed: int = 23) -> DataFrame:
    """(id, simhash long, chunk0..chunk3 int) — 16-bit bands for Hamming LSH."""
    id_type = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, simhash long"

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids = b.column(b.schema.get_field_index(id_col))
            col = b.column(b.schema.get_field_index(tokens_col))
            flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            lens = pa.compute.list_value_length(col).to_numpy(zero_copy_only=False)
            offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
            sh = _batch_simhash(flat, offsets, seed)
            yield pa.RecordBatch.from_arrays([ids, pa.array(sh)], names=[id_col, "simhash"])

    out = df.select(id_col, tokens_col).mapInArrow(fn, schema)
    u = F.col("simhash").cast("long")
    for i in range(4):
        out = out.withColumn(f"chunk{i}", F.shiftrightunsigned(u, i * 16).bitwiseAND(F.lit(0xFFFF)))
    return out


def simhash_candidates(
    sh_df: DataFrame, id_col: str, max_hamming: int = 3, max_bucket: int | None = 5000
) -> DataFrame:
    """Pairs sharing ≥1 of 4 16-bit chunks with Hamming(simhash) ≤ max_hamming.

    By pigeonhole, any pair with Hamming ≤ 3 shares at least one exact chunk,
    so recall is 1.0 for the advertised radius; chunk buckets bound the join,
    and (chunk, chunk-index) buckets above ``max_bucket`` are skipped so a
    degenerate hot value can't make the self-join quadratic.
    """
    chunks = [
        sh_df.select(F.col(id_col), F.col("simhash"), F.col(f"chunk{i}").alias("ck"), F.lit(i).alias("ci"))
        for i in range(4)
    ]
    ex = chunks[0]
    for c in chunks[1:]:
        ex = ex.unionByName(c)
    ex = _cap_buckets(ex, ["ck", "ci"], max_bucket)
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.ci") == F.col("b.ci"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.withColumn("hamming", ham).filter(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


# --------------------------------------------------------------------------
# token n-gram shingles (JVM-side) for higher-order near-dup
# --------------------------------------------------------------------------

def with_token_ngrams(
    df: DataFrame, tokens_col: str, n: int = 3, out: str = "shingles",
    element_cast: str | None = None,
) -> DataFrame:
    """array<long> of hashed token n-grams, built with SQL higher-order
    functions (whole-stage codegen; no Python). Rows shorter than n get [].

    ``element_cast``: cast each ELEMENT inside the lambda (e.g. 'BIGINT' to
    hash-normalize int32 corpora against int64 ones). Never cast the array
    column itself before calling this: Catalyst inlines the array cast into
    every ``tokens[i+j]`` access inside the lambda — n array copies per
    position (measured 150+ s on a 2k-doc table) versus a per-scalar cast.

    The array is bound ONCE as a lambda variable (``_ng_t``) rather than
    named inside the per-position lambda: Catalyst substitutes a computed
    column's whole definition wherever the column is referenced when it
    collapses projections or pushes a filter down (e.g. the ``size(arr) >
    0`` filter it infers for an ``explode`` of a derived column), so a
    ``tokens`` built by ``with_tokens`` would otherwise be re-split and
    re-hashed at every position — quadratic per row."""
    if element_cast:
        args = ", ".join(f"CAST(_ng_t[i + {j}] AS {element_cast})" for j in range(n))
    else:
        args = ", ".join(f"_ng_t[i + {j}]" for j in range(n))
    expr = (
        f"transform(array({tokens_col}), _ng_t -> CASE WHEN size(_ng_t) >= {n} THEN "
        f"transform(sequence(0, size(_ng_t) - {n}), i -> xxhash64({args})) "
        f"ELSE array() END)[0]"
    )
    return df.withColumn(out, F.expr(expr))



# 1 GiB bit array: safely under the 2^31−1-byte JVM/Arrow binary cell cap
# (the serialized state must fit one binary cell) and a sane broadcast size.
_BLOOM_MAX_BITS = 1 << 33


def _bloom_params(n_keys: int, fpr: float) -> tuple[int, int] | None:
    """(m_bits, h) for a capacity-``n_keys`` Bloom at the requested fpr,
    computed WITHOUT allocating the array (the optimal m at 10⁹+ keys is
    gigabytes — deriving params must stay O(1) driver-side), and CAPPED at
    ``_BLOOM_MAX_BITS``: beyond the cap the achieved fpr degrades
    gracefully instead of the state crossing the JVM/Arrow 2 GiB binary
    limit (which would crash a job the plain shuffle join handles fine).
    Returns None when even the capped filter would pass >50% of random
    keys — prefiltering then buys nothing over the plain shuffle join."""
    n = max(int(n_keys), 1)
    m = int(math.ceil(-n * math.log(fpr) / (math.log(2) ** 2)))
    m = min(m, _BLOOM_MAX_BITS)
    h = max(1, round((m / n) * math.log(2)))
    projected_fpr = (1.0 - math.exp(-h * n / m)) ** h
    if projected_fpr > 0.5:
        return None
    return m, h


def _eval_hash_bloom(e: DataFrame, params: tuple[int, int], col: str = "h"):
    """One merged Bloom (geometry from ``_bloom_params``) over ``e``'s
    ``col`` column, built distributed through the standard sketch pipeline
    (Arrow partials → fanout merge → one state) and returned as a
    driver-side object.

    The eval side is coalesced to ≤64 partitions first: every partial is a
    FULL m-bit array regardless of how many keys the task saw, so the state
    shuffle is (#tasks × m/8) bytes — at n=10⁸ keys / fpr=10⁻³ that is
    64 × 180 MB ≈ 11 GB once, versus the ~16 TB corpus-side shuffle the
    filter then avoids. Corpus-side parallelism is unaffected (this pass
    runs over the SMALL side only)."""
    from sketchlib.sketches.bloom import Bloom
    from sketchlib.spark.build import SketchSpec, merge_states, partial_states
    from sketchlib.spark.query import load_states

    m_bits, h = params
    spec = SketchSpec("_prefilter", "bloom", col, {"m_bits": m_bits, "h": h})
    merged = merge_states(partial_states(e.select(col).coalesce(64), [spec], group_by=None))
    states = load_states(merged)
    if not states:  # empty eval side — nothing can match
        return Bloom(m_bits=m_bits, h=h)
    (bl,) = states.values()
    return bl


def _bloom_prefilter(t: DataFrame, bloom, col: str = "h") -> DataFrame:
    """Schema-preserving map-side filter of ``t`` to rows whose ``h`` MAY be
    in ``bloom`` (false positives pass — the exact join downstream removes
    them; false negatives are impossible, so the final result is identical).
    One Arrow pass, no shuffle; the broadcast is the bloom's bit array
    (m/8 bytes), ~13× smaller than the distinct (h, id) pairs hashmap a
    broadcast join of the same eval side would pin per executor."""
    bc = t.sparkSession.sparkContext.broadcast(bloom)

    def flt(batches):
        import numpy as np
        import pyarrow as pa

        bl = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            idx = batch.schema.get_field_index(col)
            h = batch.column(idx).to_numpy(zero_copy_only=False)
            mask = bl.contains(h)
            if mask.any():
                yield batch.filter(pa.array(mask))

    return t.mapInArrow(flt, t.schema)


def _gated_eval_join(
    t: DataFrame,
    e: DataFrame,
    broadcast_threshold: int,
    op: str,
    prefilter_fpr: float | None = 1e-3,
) -> DataFrame:
    """Size-gated join of an exploded train side against an exploded eval
    side: count the eval rows first (one job over the SMALL side only;
    deliberately not persisted — a cached eval set would accumulate across
    calls and perturb the captured plans), broadcast under the threshold
    (map-side join, ONE corpus scan, zero corpus shuffle), shuffle join
    above it (still only (hash, id[, pos]) rows, never payloads).

    Above the threshold the train side is first BLOOM-PREFILTERED map-side
    (``prefilter_fpr``; None disables): a Bloom over the eval hashes is
    built distributed and broadcast (~m/8 bytes — 180 MB at 10⁸ keys /
    fpr 10⁻³ vs ~1.6 GB for the pairs hashmap that broke the broadcast
    gate), and only corpus rows whose hash may match survive to the
    shuffle — expected shuffle input drops from ALL corpus shingles
    (~16 TB at 10¹² shingles) to true hits + fpr × corpus (~16 GB at
    10⁻³). Results are identical either way: Bloom has no false negatives
    and the join itself stays exact (test-locked)."""
    import logging

    n_eval = e.count()
    log = logging.getLogger(__name__)
    if n_eval <= broadcast_threshold:
        log.info("%s: eval side %d rows <= %d — broadcast join", op, n_eval, broadcast_threshold)
        return t.join(F.broadcast(e), "h")
    params = _bloom_params(n_eval, prefilter_fpr) if prefilter_fpr else None
    if params is not None:
        log.info(
            "%s: eval side %d rows > %d — bloom prefilter (m=%d h=%d) + shuffle join",
            op, n_eval, broadcast_threshold, *params,
        )
        # the eval plan is consumed twice below (bloom build + final join) on
        # top of the count above — materialize it once; only this branch pays
        # the checkpoint, so the cheap paths' captured plans stay stable
        e = e.localCheckpoint()
        t = _bloom_prefilter(t, _eval_hash_bloom(e, params))
    else:
        log.info("%s: eval side %d rows > %d — shuffle join (pairs only, no payloads)",
                 op, n_eval, broadcast_threshold)
    return t.join(e, "h")


def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 8,
    min_shared: int = 1,
    broadcast_threshold: int = 100_000_000,
    prefilter_fpr: float | None = 1e-3,
) -> DataFrame:
    """Benchmark decontamination: (train_id, eval_id, n_shared) for every
    train document sharing ≥ ``min_shared`` distinct token n-grams with an
    eval document — EXACT (hash-equality of n-grams), not sketched: a
    decontamination pass must not miss hits.

    Scale shape: both sides reduce to (shingle hash, id) pairs — the
    shuffle never carries token payloads. The eval side (benchmarks: 10³-10⁶
    docs) is SIZE-GATED: its distinct (hash, eval_id) rows are counted
    first (one job over the small side only), and the join broadcasts only
    below ``broadcast_threshold`` rows (default 10⁸ ≈ 1.6 GB of 16 B pairs,
    under Spark's 8 GB broadcast hard cap with headroom) — the common
    benchmark-sized case then runs as ONE train scan with a map-side hash
    join, no shuffle of the 100 TB side at all. Above the threshold it
    falls back to a plain shuffle join, which still moves only (hash, id)
    pairs, never token payloads — an unconditional broadcast at 10⁶ docs ×
    10³ shingles (~16 GB) would blow past the cap and the driver heap.
    n=8 (64-bit hashes of 8-grams) makes coincidental collisions negligible
    (~n_pairs/2⁶⁴).

    Shingle hashes are computed over per-ELEMENT BIGINT casts: Spark's
    xxhash64 hashes int32 and int64 DIFFERENTLY for the same value, so an
    int-typed train corpus would silently never match a long-typed eval set.
    """
    # the raw exploded train side joins the eval side FIRST — no
    # pre-aggregation, so the corpus side never shuffles on the broadcast
    # path (a distinct() here would force a full (id, hash) exchange before
    # the join); duplicate n-grams within a doc are collapsed AFTER the
    # join by countDistinct, where only matching pairs (tiny) remain
    t = with_token_ngrams(train, tokens_col, n=n, out="_sh", element_cast="BIGINT").select(
        F.col(id_col).alias("train_id"), F.explode("_sh").alias("h")
    )
    e = (
        with_token_ngrams(eval_df, tokens_col, n=n, out="_sh", element_cast="BIGINT")
        .select(F.col(id_col).alias("eval_id"), F.explode("_sh").alias("h"))
        .distinct()
    )
    return (
        _gated_eval_join(t, e, broadcast_threshold, "contamination_pairs", prefilter_fpr)
        .groupBy("train_id", "eval_id")
        .agg(F.countDistinct("h").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def contamination_spans(
    train: DataFrame,
    eval_df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 8,
    broadcast_threshold: int = 100_000_000,
    prefilter_fpr: float | None = 1e-3,
) -> DataFrame:
    """Per contaminated (train, eval) pair, the LONGEST CONSECUTIVE run of
    shared token n-grams: (train_id, eval_id, n_shared, max_run_ngrams,
    max_span_tokens). ``contamination_pairs`` counts shared n-grams;
    decontamination POLICY usually keys on span length — a 200-token
    verbatim inclusion is a leak, eight scattered 8-grams are phrasing —
    so this emits ``max_span_tokens`` (= longest run + n − 1, the length
    of the longest verbatim token run the two documents share).

    Mechanics (all JVM): both sides explode to POSITIONED shingle hashes
    (posexplode keeps the n-gram start index), matches join on the hash,
    and a shared run lies on a DIAGONAL — consecutive matches share
    ``train_pos − eval_pos`` — so runs are gaps-and-islands per
    (pair, diagonal) with one window over the MATCHED rows only. The
    window's exchange is matched-pairs-sized (post-join), never
    corpus-sized; the eval side is size-gated exactly like
    ``contamination_pairs`` (broadcast under the threshold, pairs-only
    shuffle above).
    """
    from pyspark.sql import Window

    t = with_token_ngrams(train, tokens_col, n=n, out="_sh", element_cast="BIGINT").select(
        F.col(id_col).alias("train_id"), F.posexplode("_sh").alias("tpos", "h")
    )
    e = with_token_ngrams(eval_df, tokens_col, n=n, out="_sh", element_cast="BIGINT").select(
        F.col(id_col).alias("eval_id"), F.posexplode("_sh").alias("epos", "h")
    )
    # NOTE the gate counts POSITIONED rows (~24 B each, no distinct), so the
    # same default threshold sits ~1.5× lower in bytes-of-broadcast than
    # contamination_pairs' distinct (hash, id) rows — still inside the cap
    m = _gated_eval_join(t, e, broadcast_threshold, "contamination_spans", prefilter_fpr)
    m = m.withColumn("_diag", F.col("tpos") - F.col("epos"))
    # one corpus pass: run lengths come from TWO stacked windows — island
    # assignment ordered by tpos, then an unordered count over (…, island).
    # The second window's ClusteredDistribution on a SUPERSET of the
    # first's keys is satisfied by the existing hash partitioning, so it
    # adds a sort but NO second exchange — and crucially no second subtree
    # referencing the join (a shared+spans two-branch join would scan the
    # 100 TB train side twice). n_shared counts DISTINCT hashes in the
    # same aggregation: per-island distinct sums would double-count a
    # repeated phrase's n-grams 2-4x.
    w_isl = Window.partitionBy("train_id", "eval_id", "_diag").orderBy("tpos")
    w_run = Window.partitionBy("train_id", "eval_id", "_diag", "_isl")
    m = m.withColumn("_isl", F.col("tpos") - F.row_number().over(w_isl)).withColumn(
        "_run", F.count("*").over(w_run)
    )
    return m.groupBy("train_id", "eval_id").agg(
        F.count_distinct("h").alias("n_shared"),
        F.max("_run").alias("max_run_ngrams"),
        (F.max("_run") + F.lit(n - 1)).alias("max_span_tokens"),
    )


def contamination_fuzzy(
    train: DataFrame,
    eval_df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n: int | None = None,
    r: int = 128,
    n_bands: int = 32,
    seed: int = 17,
    max_candidates_per_train: int = 50,
    broadcast_threshold: int = 100_000_000,
    prefilter_fpr: float | None = 1e-3,
    train_sigs: DataFrame | None = None,
) -> DataFrame:
    """FUZZY benchmark decontamination: (train_id, eval_id, jaccard_est)
    for train documents NEAR-duplicating an eval document by MinHash-LSH —
    the paraphrase net behind ``contamination_pairs``'s exact one. Exact
    n-gram matching is the right first pass (verbatim inclusion must not
    be missed), but a lightly edited leak — one substituted token every
    few words — has ZERO shared 8-grams while its shingle-set Jaccard
    stays high; this catches exactly that case (the "fuzzy dedup against
    benchmarks" step of Brown et al. 2020 App. C / Lee et al. 2022).

    ``n``: shingle order. None compares raw token SETS; pass n (e.g. 3)
    to compare n-gram shingle sets — REQUIRED in practice for corpora
    with small vocabularies, where raw token sets collide across
    unrelated documents. ``threshold`` is on the ESTIMATED Jaccard
    (agreeing-minima fraction, se ≈ √(J(1−J)/r)); pick n_bands so the
    LSH s-curve catches it (hit prob per band = J^(r/n_bands)).

    Scale shape (``dedup_delta``'s asymmetric probe, reporting instead of
    dropping): the EVAL side (benchmarks: 10³–10⁶ docs) is signed and its
    exploded (band_hash, eval_id) rows broadcast when small (size-gated
    on docs × bands like dedup_delta; above the gate: shuffle join with a
    map-side Bloom prefilter on the train band stream) — the train corpus
    is then ONE map-side probe over (id, bands), zero corpus-side
    shuffle, and train signatures are fetched for CANDIDATE ids only
    (semi-join). A train doc colliding with a boilerplate bucket caps at
    ``max_candidates_per_train`` verification partners ranked by
    shared-band count (one verified hit already marks it contaminated).
    Pass ``train_sigs`` to reuse the corpus's PERSISTED signature table
    (the dedup_delta artifact — same (r, n_bands, seed, shingling)
    contract, caller-owned: a mismatch silently zeroes recall, so prefer
    the catalog-checked table); with it, the train raw data is never
    scanned at all.
    """
    import logging

    from pyspark.sql import Window

    if n is not None:
        shingled = lambda d: with_token_ngrams(
            d, tokens_col, n=n, out="_fz_sh", element_cast="BIGINT"
        )
        sign = lambda d: minhash_signatures(
            shingled(d), "_fz_sh", id_col, r=r, n_bands=n_bands, seed=seed
        )
    else:
        sign = lambda d: minhash_signatures(
            d, tokens_col, id_col, r=r, n_bands=n_bands, seed=seed
        )
    eval_sigs = sign(eval_df).localCheckpoint()
    n_eval = eval_sigs.count()
    eval_band_rows = n_eval * n_bands
    small_eval = eval_band_rows <= broadcast_threshold
    logging.getLogger(__name__).info(
        "contamination_fuzzy: %d eval docs × %d bands = %d band rows — %s",
        n_eval, n_bands, eval_band_rows,
        "broadcast (map-side train probe)" if small_eval
        else f"> {broadcast_threshold}: shuffle joins (pairs only)",
    )

    def _gated(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_eval else df

    # when signing the train side ourselves, materialize the signatures once:
    # they feed BOTH the band probe (tb) and the candidate signature fetch
    # (st), and without a checkpoint the dominant shingle+minhash pass over
    # the full corpus would run twice (sig rows are ~(r+n_bands)·8 B/doc —
    # far cheaper to store than to recompute from raw tokens)
    t_sigs = train_sigs if train_sigs is not None else sign(train).localCheckpoint()
    tb = t_sigs.select(F.col(id_col).alias("train_id"), F.explode("bands").alias("bh"))
    ebnd = eval_sigs.select(F.col(id_col).alias("eval_id"), F.explode("bands").alias("bh"))
    pf_params = (
        _bloom_params(eval_band_rows, prefilter_fpr)
        if (not small_eval and prefilter_fpr)
        else None
    )
    if pf_params is not None:
        tb = _bloom_prefilter(tb, _eval_hash_bloom(ebnd, pf_params, col="bh"), col="bh")
    cross = (
        tb.join(_gated(ebnd), "bh")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("_shared_bands"))
    )
    w = Window.partitionBy("train_id").orderBy(F.desc("_shared_bands"), F.asc("eval_id"))
    cross = (
        cross.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_candidates_per_train)
        .select("train_id", "eval_id")
        .localCheckpoint()
    )
    # the candidate-id set is TRAIN-derived (a boilerplate eval bucket can
    # match train-scale many docs), so it must NOT inherit the eval-side
    # broadcast gate — plain semi-join; AQE broadcasts it when it is small
    st = t_sigs.select(F.col(id_col).alias("train_id"), F.col("sig").alias("_sa"))
    st = st.join(cross.select("train_id").distinct(), "train_id", "leftsemi")
    se = eval_sigs.select(F.col(id_col).alias("eval_id"), F.col("sig").alias("_sb"))
    return (
        cross.join(st, "train_id")
        .join(_gated(se), "eval_id")
        .withColumn("jaccard_est", _sig_agreement("_sa", "_sb") / F.size("_sa"))
        .filter(F.col("jaccard_est") >= threshold)
        .select("train_id", "eval_id", "jaccard_est")
    )


def duplicate_spans(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 8,
    min_span_tokens: int = 50,
    max_bucket: int = 5000,
    element_cast: str | None = "BIGINT",
) -> DataFrame:
    """Corpus-INTERNAL verbatim duplicate spans — the train×train
    complement of ``contamination_spans`` and the policy signal of
    ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better": verbatim runs ≥ ~50 tokens repeated across a
    corpus measurably hurt the model): every unordered doc pair sharing a
    consecutive verbatim token run of ≥ ``min_span_tokens``, with the
    longest span's length and start positions in both docs (what a cutter
    needs). Returns (id_a, id_b, n_shared, max_run_ngrams,
    max_span_tokens, a_start, b_start); ties on run length break to the
    smallest (a_start, b_start) deterministically.

    Spark-relational shape (the suffix array is a single-machine
    construction; this is the distributed equivalent for the ≥ n-token
    policy regime): positioned shingles → per-hash frequency → SINGLETON
    PRUNING (only hashes seen ≥ 2×, overwhelmingly the minority, enter the
    join — the self-join input collapses from corpus shingles to
    duplicated shingles) → hash-equality self-join with ``id_a < id_b`` →
    diagonal gaps-and-islands (consecutive matches share tpos_a − tpos_b)
    exactly as contamination_spans. Hot shingles (boilerplate phrases)
    are capped at ``max_bucket`` occurrences and skipped — a phrase in
    10⁶ docs is a boilerplate problem for `dedup_lines`, not a pair
    problem (10¹² pairs); the cap is reported by the companion
    ``oversized_buckets``-style count in the caller's hands via
    frequency inspection. Both windows hash-partition on (pair, diag) —
    matched-pairs-sized, never corpus-sized.
    """
    if n < 1 or min_span_tokens < n:
        raise ValueError(f"need min_span_tokens >= n >= 1, got n={n}, "
                         f"min_span_tokens={min_span_tokens}")
    from pyspark.sql import Window

    s = with_token_ngrams(df, tokens_col, n=n, out="_sh", element_cast=element_cast).select(
        F.col(id_col).alias("_id"), F.posexplode("_sh").alias("_pos", "h")
    )
    dup_h = (
        s.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter((F.col("_cnt") >= 2) & (F.col("_cnt") <= max_bucket))
        .select("h")
    )
    sd = s.join(dup_h, "h", "leftsemi")
    a = sd.select(F.col("_id").alias("id_a"), F.col("_pos").alias("apos"), "h")
    b = sd.select(F.col("_id").alias("id_b"), F.col("_pos").alias("bpos"), "h")
    m = a.join(b, "h").filter(F.col("id_a") < F.col("id_b"))
    m = m.withColumn("_diag", F.col("apos") - F.col("bpos"))
    # island assignment + one unordered window over a superset of its keys:
    # second window adds a sort, not a second exchange (same plan shape as
    # contamination_spans, locked there in tests/test_plans.py)
    w_isl = Window.partitionBy("id_a", "id_b", "_diag").orderBy("apos")
    w_run = Window.partitionBy("id_a", "id_b", "_diag", "_isl")
    m = (
        m.withColumn("_isl", F.col("apos") - F.row_number().over(w_isl))
        .withColumn("_run", F.count("*").over(w_run))
        .withColumn("_a0", F.min("apos").over(w_run))
    )
    best = F.max(
        F.struct(
            F.col("_run"),
            (-F.col("_a0")).alias("_na"),
            (-(F.col("_a0") - F.col("_diag"))).alias("_nb"),
        )
    )
    out = (
        m.groupBy("id_a", "id_b")
        .agg(
            F.count_distinct("h").alias("n_shared"),
            best.alias("_best"),
        )
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.col("_best._run").alias("max_run_ngrams"),
            (F.col("_best._run") + F.lit(n - 1)).alias("max_span_tokens"),
            (-F.col("_best._na")).alias("a_start"),
            (-F.col("_best._nb")).alias("b_start"),
        )
    )
    return out.filter(F.col("max_span_tokens") >= min_span_tokens)


def cut_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remediate ``duplicate_spans`` findings (the cut half of ExactSubstr
    dedup, Lee et al. 2022): each reported pair keeps its span in ``id_a``
    (the smaller id) and cuts ``[b_start, b_start + max_span_tokens)`` from
    ``id_b``; tokens outside cut intervals survive in original order.
    Returns ``docs`` with ``tokens_col`` rewritten plus ``n_cut_tokens``.

    A doc cut by several pairs gets all its intervals; overlaps need no
    merging — a token inside ANY interval is dropped (`exists` over the
    interval list). Positions refer to the ORIGINAL arrays, so all cuts
    for a doc apply in one pass. One pass removes each pair's LONGEST
    shared run only: ``duplicate_spans`` reports one span per pair, so a
    pair sharing several disjoint qualifying runs keeps the shorter ones,
    and a span repeated at several positions within one doc is cut at one
    position — iterate detect→cut (``dedup_spans_fixpoint``) for the full
    no-surviving-run ExactSubstr invariant. The driver's closure check
    (re-running duplicate_spans finds nothing) holds for its
    one-span-per-pair corpus; the fixpoint loop's tests cover the rest.

    Scale shape: the interval table is findings-sized (pairs, not corpus);
    its per-doc aggregation and the join onto ``docs`` broadcast under AQE.
    The cut itself is higher-order functions over each token array —
    whole-stage codegen, no Python, no corpus shuffle; O(tokens ×
    intervals-per-doc) with interval lists that are pair-findings small.
    """
    cuts = spans.select(
        F.col("id_b").alias(id_col),
        F.struct(
            F.col("b_start").alias("s"),
            (F.col("b_start") + F.col("max_span_tokens")).alias("e"),
        ).alias("_iv"),
    )
    per_doc = cuts.groupBy(id_col).agg(F.collect_list("_iv").alias("_ivs"))
    keep = [c for c in docs.columns if c != tokens_col]
    joined = docs.join(per_doc, id_col, "left")
    # _ivs IS NULL (un-cut doc) short-circuits the predicate to true via
    # three-valued OR, so no typed-empty-array placeholder is needed
    kept = F.filter(
        F.transform(
            F.col(tokens_col), lambda x, i: F.struct(x.alias("x"), i.alias("i"))
        ),
        lambda s: F.col("_ivs").isNull()
        | ~F.exists(F.col("_ivs"), lambda iv: (s["i"] >= iv["s"]) & (s["i"] < iv["e"])),
    )
    return joined.withColumn("_kept", kept).select(
        *keep,
        F.transform(F.col("_kept"), lambda s: s["x"]).alias(tokens_col),
        (F.size(tokens_col) - F.size("_kept")).alias("n_cut_tokens"),
    )


def dedup_spans_fixpoint(
    docs: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    n: int = 8,
    min_span_tokens: int = 50,
    max_iter: int = 5,
    max_bucket: int = 5000,
    element_cast: str | None = "BIGINT",
) -> tuple[DataFrame, dict]:
    """Iterate detect → cut to the ExactSubstr fixpoint: each pass cuts
    ONE span per pair (the longest), so a pair sharing several disjoint
    qualifying runs — and a span repeated at several positions inside one
    doc — is only partially remediated per pass; full semantics (NO
    cross-doc verbatim run ≥ min_span_tokens survives anywhere) need the
    loop. Single-span pairs converge in one pass (the common case); each
    extra pass handles the next-longest surviving run per pair.

    Returns (cleaned docs with a cumulative ``n_cut_tokens``, stats):
    stats = {"iterations", "converged", "pairs_per_iter", "cut_tokens"}.
    Each pass eagerly checkpoints the cut result — the loop would
    otherwise stack the full detect+cut plan per iteration and replay
    every prior pass lazily. Raises nothing on non-convergence; check
    ``stats['converged']`` (a corpus needing > max_iter passes has
    pathological in-doc repetition worth inspecting, not silently
    grinding)."""
    cur = docs
    pairs_per_iter: list[int] = []
    converged = False
    for _ in range(max_iter):
        # findings-sized; checkpointed so the count AND the cut read ONE
        # detect run — unmaterialized, the count, the cut, and the next
        # pass's checkpoint would each replay the shingle self-join (the
        # dominant cost per pass) from scratch
        spans = duplicate_spans(
            cur, tokens_col, id_col, n=n, min_span_tokens=min_span_tokens,
            max_bucket=max_bucket, element_cast=element_cast,
        ).localCheckpoint(eager=True)
        if spans.count() == 0:
            converged = True
            break
        pairs_per_iter.append(spans.count())
        cur = (
            cut_duplicate_spans(cur, spans, tokens_col, id_col)
            .drop("n_cut_tokens")
            .localCheckpoint(eager=True)
        )
    total_cut = 0
    out = cur.withColumn("n_cut_tokens", F.lit(0))
    if pairs_per_iter:
        # cumulative per-doc cut from original vs final sizes — per-pass
        # sums would cost one cut replay each and still need this join for
        # the per-doc column
        orig = docs.select(id_col, F.size(tokens_col).alias("_n0"))
        out = (
            cur.join(orig, id_col)
            .withColumn("n_cut_tokens", F.col("_n0") - F.size(tokens_col))
            .drop("_n0")
        )
        total_cut = out.agg(F.sum("n_cut_tokens")).collect()[0][0] or 0
    stats = {
        "iterations": len(pairs_per_iter),
        "converged": converged,
        "pairs_per_iter": pairs_per_iter,
        "cut_tokens": int(total_cut),
    }
    return out, stats


def dedup_delta(
    new_df: DataFrame,
    existing_sigs: DataFrame | None = None,
    tokens_col: str | None = None,
    id_col: str | None = None,
    threshold: float = 0.8,
    max_bucket: int | None = 5000,
    max_candidates_per_doc: int = 200,
    seed: int | None = None,
    broadcast_threshold: int = 100_000_000,
    prefilter_fpr: float | None = 1e-3,
    catalog=None,
    catalog_key: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup: dedup a NEW batch against an already-deduped
    corpus via the corpus's PERSISTED signature table, then within itself.
    Returns (kept new rows, signatures of the kept rows) — append the
    signatures to the persisted table to close the daily loop.

    TWO ways to name the corpus signatures:

    - ``catalog=SketchCatalog(...), catalog_key='name'`` (preferred): the
      signing contract — (r, n_bands, SEED) — is read from the registry,
      so the delta CANNOT be signed with a mismatched seed; an explicit
      ``seed``/``tokens_col``/``id_col`` argument that conflicts with the
      registered contract raises (defaults come from the registry).
    - ``existing_sigs=DataFrame`` (raw): ``r`` and ``n_bands`` are taken
      from the table's shape, but the table does not carry its seed —
      ``seed`` (default 17) MUST match the seed the corpus signatures were
      built with: a mismatch makes every comparison silently miss (zero
      recall), so prefer the catalog path wherever the table is persisted.

    This is the operation a 100 TB corpus actually runs every day: a crawl
    drop arrives, and re-clustering the corpus (minhash_lsh_dedup over
    everything) would re-scan and re-shuffle 100 TB to dedup a 100 GB
    delta. Scale shape here: the corpus's RAW DATA is never touched — only
    its signature table — and, when the delta is small enough, its
    (id, band_hash) pairs are BROADCAST, so the corpus-side band stream is
    a map-side probe: one column-pruned scan of (id, bands), no
    corpus-side shuffle. Cross verification then reads (id, sig) for
    CANDIDATE ids only (a second column-pruned, semi-join-filtered scan of
    the signature table). The broadcasts are SIZE-GATED on the delta's
    exploded band-row count (docs × n_bands, known from the checkpointed
    signature count — no extra job): above ``broadcast_threshold`` rows
    (default 10⁸ ≈ 1.6 GB of 16 B pairs, under Spark's 8 GB broadcast
    hard cap with headroom) every broadcast falls back to a plain shuffle
    join — which still moves only (id, band_hash) / (id, sig) rows, never
    token payloads. An unconditional broadcast at a 100 GB delta (~4×10⁷
    docs × 16+ bands ≈ 10⁹ band rows) would blow past the cap and the
    driver heap. On that fallback the corpus band stream is additionally
    BLOOM-PREFILTERED map-side (``prefilter_fpr``; None disables): a Bloom
    over the delta's band hashes — size-capped with gracefully-degraded
    fpr, skipped entirely when even the capped filter would pass most keys
    — keeps only corpus bands that may match, so the corpus-side shuffle
    is hits + fpr × corpus instead of the full band table. Exact either
    way: the band join only generates candidates; signature agreement is
    the arbiter. A new doc colliding with a boilerplate bucket caps at
    ``max_candidates_per_doc`` verification partners (one verified match
    already decides "duplicate"; the cap bounds a 10⁶-member template
    bucket's fan-out), and within-delta dedup reuses the standard capped
    LSH path.
    """
    import logging

    from pyspark.sql import Window

    if (catalog is None) != (catalog_key is None):
        raise ValueError("pass catalog and catalog_key together (or neither)")
    if catalog is not None:
        if existing_sigs is not None:
            raise ValueError(
                "pass either catalog/catalog_key OR existing_sigs, not both — "
                "the registry is authoritative for the signing contract"
            )
        meta = catalog.sig_meta(catalog_key)
        # the registry is authoritative for the WHOLE signing contract —
        # every explicitly-passed knob must agree or raise (a silently
        # overridden id/tokens column keys signatures on the wrong data,
        # as undetectable downstream as a mismatched seed)
        for arg, val, reg_val in (
            ("seed", seed, int(meta["seed"])),
            ("tokens_col", tokens_col, meta["tokens_col"]),
            ("id_col", id_col, meta["id_col"]),
        ):
            if val is not None and val != reg_val and str(val) != str(reg_val):
                raise ValueError(
                    f"{arg}={val!r} conflicts with signature table "
                    f"{catalog_key!r}'s registered {arg} {reg_val!r} — drop "
                    f"the {arg} argument to use the registered contract"
                )
        seed = int(meta["seed"])
        tokens_col, id_col = meta["tokens_col"], meta["id_col"]
        existing_sigs = catalog.signatures(catalog_key)
        r, n_bands = int(meta["r"]), int(meta["n_bands"])
    else:
        if existing_sigs is None:
            raise ValueError("pass existing_sigs, or catalog + catalog_key")
        if seed is None:
            seed = 17
        tokens_col = tokens_col or "tokens"
        id_col = id_col or "doc_id"
        # empty-token docs carry an empty bands array (see minhash_signatures)
        # — probe geometry from a row that actually entered a bucket
        first = (
            existing_sigs.select(F.size("sig").alias("r"), F.size("bands").alias("b"))
            .filter(F.col("b") > 0)
            .first()
        )
        if first is None:
            raise ValueError(
                "existing_sigs is empty — bootstrap with minhash_lsh_dedup + "
                "minhash_signatures over the initial corpus, then dedup deltas"
            )
        r, n_bands = int(first["r"]), int(first["b"])
    new_sigs = minhash_signatures(
        new_df, tokens_col, id_col, r=r, n_bands=n_bands, seed=seed
    ).localCheckpoint()

    # the gate's decision variable: delta docs × bands = exploded band rows
    # (exact, no extra scan — the count reads the checkpoint); the same
    # count gates the signature broadcasts below (delta sigs are r×8 B
    # each — strictly smaller than the band side whenever r ≤ 16·n_bands,
    # and within the same order otherwise, so one gate serves both)
    n_delta = new_sigs.count()
    delta_band_rows = n_delta * n_bands
    small_delta = delta_band_rows <= broadcast_threshold
    logging.getLogger(__name__).info(
        "dedup_delta: %d delta docs × %d bands = %d band rows — %s",
        n_delta, n_bands, delta_band_rows,
        "broadcast (map-side corpus probe)" if small_delta
        else f"> {broadcast_threshold}: shuffle joins (pairs only, no payloads)",
    )

    def _gated(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_delta else df

    # cross candidates: corpus band stream map-side-probes the broadcast
    # delta bands. The per-new-doc cap ranks candidates by SHARED-BAND
    # COUNT descending (a true near-duplicate agrees on ~all bands; a
    # boilerplate-bucket collision agrees on few) — capping by an
    # arbitrary id order could evict the one true match behind 10⁴
    # template collisions and silently keep a duplicate. Checkpointed:
    # two downstream branches reference it, and re-evaluating would scan
    # the corpus signature table twice.
    nb = new_sigs.select(F.col(id_col).alias("_nid"), F.explode("bands").alias("bh"))
    eb = existing_sigs.select(F.col(id_col).alias("_eid"), F.explode("bands").alias("bh"))
    pf_params = (
        _bloom_params(delta_band_rows, prefilter_fpr)
        if (not small_delta and prefilter_fpr)
        else None
    )
    if pf_params is not None:
        # backfill-sized delta: the shuffle-join fallback would exchange the
        # FULL corpus band table (~21 TB at 4.2e10 docs) against the delta.
        # Bloom-prefilter the corpus side map-side first (same shape as the
        # decontamination fallback above): only corpus bands that MAY match
        # a delta band survive to the shuffle — hits + fpr x corpus. Exact:
        # no false negatives, and the band join is a candidate generator
        # anyway (the signature-agreement verify is the arbiter). nb reads
        # the new_sigs checkpoint, so the extra bloom-build pass is cheap.
        eb = _bloom_prefilter(eb, _eval_hash_bloom(nb, pf_params, col="bh"), col="bh")
    cross = (
        eb.join(_gated(nb), "bh")
        .groupBy("_nid", "_eid")
        .agg(F.count("*").alias("_shared_bands"))
    )
    w = Window.partitionBy("_nid").orderBy(F.desc("_shared_bands"), F.asc("_eid"))
    cross = (
        cross.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_candidates_per_doc)
        .select("_nid", "_eid")
        .localCheckpoint()
    )
    sa = new_sigs.select(F.col(id_col).alias("_nid"), F.col("sig").alias("_sa"))
    se = existing_sigs.select(F.col(id_col).alias("_eid"), F.col("sig").alias("_sb"))
    # corpus sigs fetched for candidates only (semi-join by id; candidate
    # ids are capped at n_delta × max_candidates_per_doc, but that bound
    # still scales with the delta — gate it like the rest)
    se = se.join(_gated(cross.select("_eid").distinct()), "_eid", "leftsemi")
    dup_of_corpus = (
        cross.join(_gated(sa), "_nid")
        .join(se, "_eid")
        .withColumn("_j", _sig_agreement("_sa", "_sb") / F.size("_sa"))
        .filter(F.col("_j") >= threshold)
        .select(F.col("_nid").alias(id_col))
        .distinct()
    )
    survivors = new_sigs.join(dup_of_corpus, id_col, "left_anti").localCheckpoint()

    # within-delta dedup over the survivors (standard capped LSH path);
    # checkpointed — cluster_min_id re-evaluates its edge input per round
    pairs = candidate_pairs(
        survivors, id_col, threshold=threshold, max_bucket=max_bucket
    ).localCheckpoint()
    clusters = cluster_min_id(pairs, survivors.select(id_col), id_col)
    keep_ids = clusters.filter(F.col(id_col) == F.col("rep")).select(id_col)
    kept_rows = new_df.join(keep_ids, id_col, "leftsemi")
    kept_sigs = survivors.join(keep_ids, id_col, "leftsemi")
    return kept_rows, kept_sigs

"""Text-analysis operators for training-data pipelines — all JVM-side.

Every expression here compiles to Spark SQL built-ins (split/filter/
transform/aggregate/regexp), so the whole pipeline stays in whole-stage
codegen: no Python touches row data. These are the quality/filtering
primitives a 100 TB corpus pipeline runs before tokenization.

- token/word counts, avg word length
- quality heuristics: alpha ratio, digit ratio, punctuation ratio,
  whitespace ratio, mean-word-length sanity, stopword hit ratio
- language-ID heuristic: argmax over per-language stopword hit counts
  (n-gram-free, deterministic; a real pipeline swaps in fastText — the
  operator shape, an argmax over per-language scores, stays identical)
- document fingerprint: xxhash64 of normalized text (exact-dup key)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "pour", "dans"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "una", "por"],
}


def words(text_col: str | Column) -> Column:
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(col, r"\s+"), lambda w: w != F.lit(""))


def _char_ratio(col: Column, pattern: str) -> Column:
    total = F.greatest(F.length(col), F.lit(1))
    kept = F.length(F.regexp_replace(col, pattern, ""))
    return (total - kept) / total


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_words, avg_word_len, alpha_ratio, digit_ratio, punct_ratio."""
    w = words(text_col)
    col = F.col(text_col)
    total_chars = F.greatest(F.length(col), F.lit(1))
    word_chars = F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x))
    return (
        df.withColumn("n_words", F.size(w))
        .withColumn("avg_word_len", word_chars / F.greatest(F.size(w), F.lit(1)))
        .withColumn("alpha_ratio", _char_ratio(col, r"[A-Za-z]"))
        .withColumn("digit_ratio", _char_ratio(col, r"[0-9]"))
        .withColumn("punct_ratio", _char_ratio(col, r"""[.,;:!?'"()\[\]{}-]"""))
        .withColumn("ws_ratio", _char_ratio(col, r"\s"))
        .withColumn("n_chars_calc", F.length(col))
    )


def _stopword_hits(text_col: str | Column, lang: str) -> Column:
    w = F.transform(words(text_col), lambda x: F.lower(x))
    sw = F.array(*[F.lit(s) for s in _STOPWORDS[lang]])
    return F.size(F.filter(w, lambda x: F.array_contains(sw, x)))


def with_lang_guess(df: DataFrame, text_col: str = "text", out: str = "lang_guess") -> DataFrame:
    """Heuristic language ID: argmax over per-language stopword hit counts.

    Ties (incl. zero hits everywhere) resolve to 'unknown'.
    """
    tmp = df
    for lang in _STOPWORDS:
        tmp = tmp.withColumn(f"_sw_{lang}", _stopword_hits(text_col, lang))
    best = F.greatest(*[F.col(f"_sw_{lang}") for lang in _STOPWORDS])
    guess = F.when(best <= 0, F.lit("unknown"))
    for lang in _STOPWORDS:  # first language reaching the max wins (stable order)
        guess = guess.when(F.col(f"_sw_{lang}") == best, F.lit(lang))
    tmp = tmp.withColumn(out, guess)
    return tmp.drop(*[f"_sw_{lang}" for lang in _STOPWORDS])


def with_quality_score(df: DataFrame, text_col: str = "text", out: str = "quality_ok") -> DataFrame:
    """Boolean quality gate in the C4/Gopher-rule style, exact + cheap:
    length in [50, 100k] chars, ≥10 words, mean word length in [2, 12],
    alpha ratio ≥ 0.6, digit ratio ≤ 0.2."""
    s = with_text_stats(df, text_col)
    ok = (
        (F.col("n_chars_calc") >= 50)
        & (F.col("n_chars_calc") <= 100_000)
        & (F.col("n_words") >= 10)
        & (F.col("avg_word_len") >= 2)
        & (F.col("avg_word_len") <= 12)
        & (F.col("alpha_ratio") >= 0.6)
        & (F.col("digit_ratio") <= 0.2)
    )
    return s.withColumn(out, ok)


def with_fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """64-bit exact-dup fingerprint of whitespace-normalized, lowercased text."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return df.withColumn(out, F.xxhash64(norm))


def with_winnow_fingerprint(
    df: DataFrame,
    tokens_col: str = "tokens",
    k: int = 5,
    w: int = 8,
    out: str = "fingerprints",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003):
    hash every k-token shingle (rolling window), then keep the MINIMUM hash
    of each w-length window of shingle hashes — the classic guarantee holds:
    any two documents sharing a token run of ≥ w+k−1 tokens share at least
    one fingerprint, while only ~2/(w+1) of shingles are kept. Entirely SQL
    higher-order functions (whole-stage codegen, no Python); output is the
    distinct selected hashes as array<long>. Compose with array_intersect /
    explode+join for plagiarism-style containment detection at corpus scale
    (fingerprints are the only shuffled payload).
    """
    from sketchlib.spark.dedup import with_token_ngrams

    df = with_token_ngrams(df, tokens_col, n=k, out="_shingles")
    # _shingles is bound once as a lambda variable, never named inside the
    # window lambda: Catalyst inlines a derived column's definition into
    # pushed-down filters (the explode filter downstream joins infer), and a
    # per-window reference would rebuild every shingle per window (a
    # containment join over 1k short docs: 183-348 s -> ~1 s at local[8] on
    # 4 vCPUs; see with_token_ngrams)
    fp = F.expr(
        f"transform(array(_shingles), s -> CASE "
        f"WHEN size(s) >= {w} THEN array_distinct(transform("
        f"sequence(0, size(s) - {w}), i -> array_min(slice(s, i + 1, {w})))) "
        f"WHEN size(s) > 0 THEN array(array_min(s)) "  # short doc: one fp
        f"ELSE CAST(array() AS array<bigint>) END)[0]"
    )
    return df.withColumn(out, fp).drop("_shingles")


def with_repetition_stats(
    df: DataFrame, tokens_col: str = "tokens", ngram: int = 2
) -> DataFrame:
    """Gopher-style intra-document REPETITION gates (Rae et al. 2021 §A1.1:
    'fraction of duplicate n-grams' filters), entirely SQL higher-order
    functions — no Python in the row path:

    - ``dup_token_frac``: 1 − |distinct tokens| / |tokens| — the fraction
      of token occurrences that repeat an earlier token;
    - ``dup_ngram_frac``: same for ``ngram``-grams (hashed; consecutive
      repetition like "foo bar foo bar ..." scores high here even when
      individual token diversity looks fine);
    - ``top_token_frac``: share of the document taken by its single most
      frequent token (template/boilerplate detector).

    Empty docs score 0 on all three. Compose with a threshold filter for
    the actual gate (Gopher drops docs with dup_ngram_frac over ~0.2-0.6
    depending on n); thresholds are policy, so they stay with the caller.
    """
    from sketchlib.spark.dedup import with_token_ngrams

    n_tok = F.size(F.col(tokens_col))
    safe_n = F.greatest(n_tok, F.lit(1))
    dup_tok = (n_tok - F.size(F.array_distinct(F.col(tokens_col)))) / safe_n
    df = with_token_ngrams(df, tokens_col, n=ngram, out="_rep_sh")
    n_sh = F.size(F.col("_rep_sh"))
    dup_ng = F.when(
        n_sh > 0, (n_sh - F.size(F.array_distinct(F.col("_rep_sh")))) / n_sh
    ).otherwise(F.lit(0.0))
    # top-token share = longest run in the SORTED token array — one
    # O(n log n) sort + one linear aggregate pass per row (a naive
    # per-distinct-token filter would be O(|vocab|·|tokens|) per row,
    # quadratic on repetitive docs — exactly the docs this gate exists for)
    elem_t = df.schema[tokens_col].dataType.elementType.simpleString()
    top = F.expr(
        f"aggregate(array_sort({tokens_col}), "
        f"named_struct('prev', CAST(NULL AS {elem_t}), 'run', CAST(0 AS BIGINT), "
        f"             'best', CAST(0 AS BIGINT)), "
        f"(s, t) -> named_struct('prev', t, "
        f"  'run', IF(s.prev IS NOT NULL AND t = s.prev, s.run + 1L, 1L), "
        f"  'best', greatest(s.best, IF(s.prev IS NOT NULL AND t = s.prev, s.run + 1L, 1L))), "
        f"s -> s.best)"
    )
    top_frac = F.when(n_tok > 0, top / safe_n).otherwise(F.lit(0.0))
    return (
        df.withColumn("dup_token_frac", dup_tok.cast("double"))
        .withColumn("dup_ngram_frac", dup_ng.cast("double"))
        .withColumn("top_token_frac", top_frac.cast("double"))
        .drop("_rep_sh")
    )


# PII patterns deliberately restricted to the Java-regex ∩ RE2 dialect
# subset (\b, \d, bounded repetition — no lookaround, no backrefs) so the
# same pattern runs verbatim in Spark and in engines like DuckDB/RE2.
# Order is load-bearing: earlier rules consume their text before later
# rules see it (an email's digits must not surface as a phone number).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    # NB the optional '+' must precede \b: after \b it could never match
    # ("+44 ..." has no word boundary before '+'), leaving the prefix
    # unredacted next to <PHONE>
    "phone": (r"\+?\b\d{2,3}[ -]\d{3}[ -]\d{4}\b", "<PHONE>"),
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, tuple[str, str]] | None = None,
    out: str | None = None,
    counts: bool = True,
) -> DataFrame:
    """Redact PII-like spans in place — the scrubbing stage every public
    training corpus runs before release (emails, IPs, SSNs, phones by
    default; pass ``patterns`` = {name: (regex, replacement)} to extend).

    Rules apply SEQUENTIALLY in dict order, each seeing the previous
    rule's output, so overlapping matches are attributed to the first
    rule deterministically. With ``counts=True`` each rule also emits a
    ``pii_<name>`` column counting its matches (on the text as that rule
    saw it — the attribution the redaction actually performed, not
    independent per-rule counts that double-book overlaps).

    Scale shape: pure `regexp_replace`/`regexp_count` column expressions —
    whole-stage codegen, no Python, no shuffle; the pass pipelines into
    whatever scan/filter surrounds it.
    """
    pats = patterns if patterns is not None else PII_PATTERNS
    if not pats:
        raise ValueError("patterns must name at least one (regex, replacement) rule")
    col = F.col(text_col)
    count_cols: list[Column] = []
    for name, (regex, repl) in pats.items():
        if counts:
            count_cols.append(F.regexp_count(col, F.lit(regex)).alias(f"pii_{name}"))
        col = F.regexp_replace(col, regex, repl)
    out_name = out or text_col
    if out_name in df.columns:
        # in-place: replace at the ORIGINAL position (moving the text column
        # last would silently break positional consumers), counts appended
        replaced = [col.alias(out_name) if c == out_name else F.col(c) for c in df.columns]
        return df.select(*replaced, *count_cols)
    return df.select(*df.columns, *count_cols, col.alias(out_name))


def pii_report(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """Corpus-level PII accounting: one row per rule with the total match
    count and the number of documents touched, plus a ``__redacted__``
    row whose n_matches is the total character count of the fully
    redacted corpus — a value that locks the actual replacement output,
    not just the match tallies. One aggregation, KB-sized result."""
    pats = patterns if patterns is not None else PII_PATTERNS
    red = redact_pii(df, text_col=text_col, patterns=pats, out="_redacted")
    aggs = []
    for name in pats:
        c = F.col(f"pii_{name}")
        aggs.append(F.sum(c).cast("long").alias(f"_m_{name}"))
        aggs.append(F.sum(F.when(c > 0, 1).otherwise(0)).cast("long").alias(f"_d_{name}"))
    aggs.append(F.sum(F.length("_redacted")).cast("long").alias("_chars"))
    row = red.agg(*aggs).collect()[0]
    rows = [(name, int(row[f"_m_{name}"] or 0), int(row[f"_d_{name}"] or 0)) for name in pats]
    rows.append(("__redacted__", int(row["_chars"] or 0), 0))
    return df.sparkSession.createDataFrame(
        rows, "pattern string, n_matches long, n_docs long"
    )


def filter_documents(
    df: DataFrame, gates: dict[str, Column | str]
) -> tuple[DataFrame, DataFrame]:
    """Compose quality gates into ONE filtering pass with per-gate
    accounting — the operational shape of a corpus quality stage: the
    pipeline needs not just the kept rows but WHICH gate rejected how many
    (a gate silently dropping 40% of a source is a data incident, not a
    filter working).

    ``gates``: {name: boolean expression}, True = PASS (strings go through
    F.expr — full Spark SQL, typically over columns added by
    with_text_stats / with_repetition_stats / with_lang_guess upstream).
    Returns (kept, report):

    - kept   = rows passing EVERY gate (original columns only — the
      per-gate flag columns are internal);
    - report = one row per gate: (gate, n_failed, fail_rate) counted
      INDEPENDENTLY (a row failing two gates counts in both — attribution
      must not depend on gate order), plus a final ('__kept__', n_kept,
      kept_rate) row.

    Scale shape: the report is ONE aggregation over per-row boolean flags
    (all JVM expressions, no Python, no shuffle before the KB-sized final
    agg); `kept` re-evaluates the gate conjunction as a plain pushed
    filter. Evaluating both report and kept therefore scans the input
    twice — cache/checkpoint the input (or write `kept` and derive the
    report from counts) when the scan is the dominant cost.
    """
    if not gates:
        raise ValueError("gates must name at least one boolean expression")
    flags = {
        name: (F.expr(g) if isinstance(g, str) else g).cast("boolean")
        for name, g in gates.items()
    }
    flagged = df.select(
        *[F.coalesce(c, F.lit(False)).alias(f"_g_{i}") for i, c in enumerate(flags.values())]
    )
    n_gates = len(flags)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i in range(n_gates):
        aggs.append(F.sum(F.when(F.col(f"_g_{i}"), 0).otherwise(1)).alias(f"_f_{i}"))
    all_pass = F.lit(True)
    for i in range(n_gates):
        all_pass = all_pass & F.col(f"_g_{i}")
    aggs.append(F.sum(F.when(all_pass, 1).otherwise(0)).alias("_kept"))
    row = flagged.agg(*aggs).collect()[0]
    n = row["_n"] or 0
    rep_rows = [
        (name, int(row[f"_f_{i}"] or 0), (row[f"_f_{i}"] or 0) / n if n else 0.0)
        for i, name in enumerate(flags)
    ]
    rep_rows.append(("__kept__", int(row["_kept"] or 0), (row["_kept"] or 0) / n if n else 0.0))
    report = df.sparkSession.createDataFrame(
        rep_rows, "gate string, n long, rate double"
    )
    conj = F.lit(True)
    for c in flags.values():
        conj = conj & F.coalesce(c, F.lit(False))
    return df.filter(conj), report


def _gram_expr(tokens_col: str, n: int) -> str:
    """The shared n-gram-window SQL expression (transform+slice over a
    sequence — whole-stage codegen, no Python). ONE definition so the two
    top_ngrams plans can never silently diverge on windowing semantics."""
    return (
        f"CASE WHEN size({tokens_col}) >= {n} THEN "
        f"transform(sequence(0, size({tokens_col}) - {n}), "
        f"i -> slice({tokens_col}, i + 1, {n})) "
        f"ELSE array() END"
    )


def ngram_counts(df: DataFrame, tokens_col: str = "tokens", n: int = 3) -> DataFrame:
    """(ngram: array<element>, cnt) — exact corpus-wide token n-gram counts.

    The n-gram windows are built with SQL higher-order functions (see
    _gram_expr) and counted by ONE groupBy with map-side partial
    aggregation: the shuffle carries (ngram, partial_count) pairs, i.e.
    per-partition-DISTINCT gram volume, never raw occurrences. Rows shorter
    than n contribute nothing; NULL token arrays are skipped.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    grams = df.select(F.explode(F.expr(_gram_expr(tokens_col, n))).alias("ngram"))
    return grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("cnt"))


def top_ngrams(
    df: DataFrame,
    tokens_col: str = "tokens",
    n: int = 3,
    k: int = 20,
    by_hash: bool = False,
    candidate_factor: int = 4,
) -> DataFrame:
    """Top-k most frequent token n-grams, deterministic order
    (cnt DESC, ngram ASC) — the boilerplate-detection report feeding
    dedup_lines / dedup policy decisions (a 3-gram in 10⁷ documents is a
    template, not content).

    Two plans, identical output (tested):

    - default: groupBy the gram itself, then a global
      ``orderBy(...).limit(k)`` — Spark plans TakeOrderedAndProject
      (per-partition top-k + driver merge of k·P rows, NO full sort).
      The shuffle key is the gram array (n×8 bytes + offsets per distinct
      gram).
    - ``by_hash=True`` (the WIDE-gram shuffle path): occurrences are
      counted by their 8-byte ``xxhash64(ngram)`` first (fixed-width
      shuffle keys); every hash class whose count reaches the k-th
      LARGEST class count becomes a candidate (a count-ranked threshold,
      so ALL grams tied at the boundary compete in the final tie-break —
      a hash-ordered top-N cut would pick an arbitrary tied subset and
      silently diverge from the default plan), and ONLY occurrences
      matching those hashes (broadcast semi-join, map-side) are
      re-counted exactly by gram for the final top-k.
      ``candidate_factor`` only sizes the degenerate-tie fallback cap
      (``max(k·candidate_factor, 4096)``): past it the tied set is too
      large to broadcast and the call falls back to the default exact
      plan. Per-gram counts are exact (the recount ignores hash
      classes); candidate MEMBERSHIP is exact unless a 64-bit collision
      lands a non-top gram class above a top gram's class at the
      boundary — at 10¹² distinct grams the chance any collision exists
      is ~5%, the chance one perturbs the top-k boundary is negligible.

    MEASURED guidance (BENCH/topngrams_scale.json, 200k docs, both arms
    result-identical): at n=3 over int32 token ids by_hash is a LOSS —
    shuffle compression flattens the key-width advantage to 1.09× (token
    ids compress; random hashes don't) while the second gram scan costs
    1.4× wall. At n=8 the wider arrays beat compression: 2.22× fewer
    shuffle bytes AND 1.3× faster. Default for short integer grams;
    ``by_hash`` for wide grams (n ≳ 6) or string-element grams.
    """
    counts = ngram_counts(df, tokens_col, n)
    if not by_hash:
        return counts.orderBy(F.desc("cnt"), F.asc("ngram")).limit(k)
    grams = df.select(
        F.explode(F.expr(_gram_expr(tokens_col, n))).alias("ngram")
    ).withColumn("h", F.xxhash64("ngram"))
    hc = grams.groupBy("h").agg(F.count(F.lit(1)).alias("cnt_h"))
    hc = hc.localCheckpoint()  # consumed twice (threshold probe + filter)
    # candidate threshold = the k-th LARGEST class count, then take ALL
    # classes at-or-above it — a count-ranked cut (never a hash-ranked
    # one): every gram tied at the boundary count is a candidate, so the
    # final (cnt DESC, ngram ASC) tie-break sees the same tied set the
    # default plan does and the two plans agree EXACTLY (under
    # no-collision; a hash-ordered top-k·factor cut would pick an
    # arbitrary subset of boundary ties and diverge with no collision
    # at all — tested)
    kth = [r["cnt_h"] for r in hc.select("cnt_h").orderBy(F.desc("cnt_h")).limit(k).collect()]
    if len(kth) < k:
        cand_h = hc.select("h")  # fewer than k classes: everything qualifies
    else:
        cand_h = hc.filter(F.col("cnt_h") >= int(kth[-1])).select("h")
        # a massively-tied boundary (degenerate near-uniform counts) can
        # inflate the candidate set past what a broadcast should carry —
        # correctness first: fall back to the default exact plan
        cap = max(k * candidate_factor, 4096)
        if cand_h.limit(cap + 1).count() > cap:
            return counts.orderBy(F.desc("cnt"), F.asc("ngram")).limit(k)
    cand = grams.join(F.broadcast(cand_h), "h", "leftsemi")
    return (
        cand.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ngram"))
        .limit(k)
    )


def tfidf_terms(
    df: DataFrame,
    tokens_col: str = "tokens",
    group_col: str = "source",
    id_col: str = "doc_id",
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """Per-group CHARACTERISTIC TERMS by TF-IDF — the data-card question
    "what is source X actually about", answered as each group's top-k terms
    by ``tf_{g,w} · ln(N / df_w)`` (raw in-group occurrence count × corpus
    inverse document frequency, Sparck Jones 1972), deterministic under
    ties (score DESC, term ASC). Returns
    (group, term, tf, doc_freq, tfidf, rank).

    A term every document contains scores ln(1) = 0 exactly — boilerplate
    self-cancels, no stopword list needed; a term concentrated in one
    group's documents is pulled to the top of exactly that group.

    Scale shape: two corpus-sized aggregations, both with map-side partial
    agg — occurrence counts groupBy(g, w) (post-combine volume ≈ G·vocab)
    and document frequencies via ``explode(array_distinct(tokens))`` then
    groupBy(w) (per-doc dedup happens INSIDE the row, so the shuffle
    carries (doc-distinct term, 1) pairs, never a (doc, term) DISTINCT
    table). The scored join is vocab-keyed (AQE picks broadcast when the
    vocabulary fits). The per-group top-k is a rank-≤-k window that
    Catalyst rewrites to a map-side WindowGroupLimit (the cap_per_group
    plan, locked there in tests/test_plans.py), so the window exchange
    carries ~k rows per partition per group, not G·vocab.
    """
    g = F.col(group_col).cast("string").alias("g")
    occ = df.select(g, F.explode(tokens_col).alias("w"))
    tf = occ.groupBy("g", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfw = (
        df.select(F.col(id_col), F.explode(F.array_distinct(tokens_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    n_docs = df.count()
    scored = tf.join(dfw, "w").withColumn(
        "tfidf",
        F.col("tf").cast("double")
        * F.log(F.lit(float(n_docs)) / F.col("doc_freq").cast("double")),
    )
    # round_to ranks on the ROUNDED score: two terms whose scores are
    # mathematically equal but float-computed differently (tf·ln(N/df) can
    # coincide across distinct (tf, df) pairs — 2·ln(2) = ln(4)) then tie
    # identically everywhere, and the term-ASC tie-break decides — the same
    # cross-engine determinism move as with_unigram_surprisal(round_to=)
    if round_to is not None:
        scored = scored.withColumn("tfidf", F.round("tfidf", round_to))
    w = Window.partitionBy("g").orderBy(F.desc("tfidf"), F.asc("w"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("g").alias("group"),
            F.col("w").alias("term"),
            "tf",
            "doc_freq",
            "tfidf",
            "rank",
        )
        .orderBy("group", "rank")
    )


def pmi_collocations(
    df: DataFrame,
    tokens_col: str = "tokens",
    k: int = 20,
    min_count: int = 5,
    round_to: int | None = None,
) -> DataFrame:
    """Top-k COLLOCATIONS by pointwise mutual information (Church & Hanks
    1990) — the data-card "which word pairs travel together" report and
    the phrase-mining seed: adjacent pairs whose co-occurrence beats the
    independence baseline,

        pmi = log2( (c_ab / N_big) / ((c_a / N_uni) · (c_b / N_uni)) )

    with c_ab the bigram count (N_big total bigrams) and c_a, c_b unigram
    counts (N_uni total tokens). ``min_count`` floors c_ab first — raw
    PMI is maximized by hapax pairs, so an unfloored top-k is pure noise
    (the standard remedy). Deterministic order: (pmi DESC, w1 ASC,
    w2 ASC); ``round_to`` ranks on the ROUNDED score so float-coincident
    scores tie identically cross-engine. Returns
    (w1, w2, pair_count, count_a, count_b, pmi).

    Scale shape: bigram and unigram tables are each ONE groupBy with
    map-side partial agg (shuffle volume ≈ distinct grams, never raw
    occurrences; the windows are SQL higher-order functions — no Python);
    the two totals are 1-row frames crossJoin-glued; the scoring joins
    are vocab-keyed (AQE broadcasts the unigram side when it fits; the
    bigram side is already ≥min_count-filtered); top-k is orderBy+limit —
    TakeOrderedAndProject, per-partition top-k + a k·P driver merge, no
    global sort.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    big = (
        df.select(F.explode(F.expr(_gram_expr(tokens_col, 2))).alias("bg"))
        .select(F.col("bg")[0].alias("w1"), F.col("bg")[1].alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    uni = (
        df.select(F.explode(tokens_col).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_big = big.agg(F.sum("pair_count").alias("n_big"))
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("count_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("count_b"))
    scored = (
        big.filter(F.col("pair_count") >= min_count)
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n_big))
        .crossJoin(F.broadcast(n_uni))
    )
    pmi = F.log2(
        (F.col("pair_count").cast("double") / F.col("n_big").cast("double"))
        / (
            (F.col("count_a").cast("double") / F.col("n_uni").cast("double"))
            * (F.col("count_b").cast("double") / F.col("n_uni").cast("double"))
        )
    )
    if round_to is not None:
        pmi = F.round(pmi, round_to)
    return (
        scored.select("w1", "w2", "pair_count", "count_a", "count_b", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def zipf_fit(
    df: DataFrame,
    tokens_col: str = "tokens",
    group_col: str = "source",
    round_to: int | None = None,
) -> DataFrame:
    """Per-group ZIPF rank–frequency fit — the corpus-health diagnostic
    (natural language tracks slope ≈ −1, Zipf 1949): OLS regression of
    ln(count) on ln(rank) over each group's word frequency table, with
    rank assigned deterministically (count DESC, word ASC). Returns
    (group, n_terms, n_tokens, slope, intercept, r2) per group. A
    templated/machine-generated source bends the curve — slope far from
    −1 or low r² flags it with one number per source, no sampling.

    Scale shape: ONE groupBy(group, word) with map-side partial agg
    collapses occurrences to the distinct frequency table (the only
    corpus-sized shuffle, post-combine volume ≈ G·vocab); ranking is a
    per-group window over that vocab-sized table; the regression is a
    second map-side-combined aggregation emitting six sums per group —
    the slope/intercept/r² algebra runs on a G-row frame. The closed-form
    sums (n·Σxy − Σx·Σy, …) are written with the same IEEE expression
    shape a relational oracle uses, so cross-engine drift is summation
    order only (~1e-12, absorbed by ``round_to``).

    Groups with a single distinct term have zero x-variance: slope,
    intercept and r² are NULL (loudly visible, not 0.0-silent).
    """
    g = F.col(group_col).cast("string").alias("g")
    cnt = (
        df.select(g, F.explode(tokens_col).alias("w"))
        .groupBy("g", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    win = Window.partitionBy("g").orderBy(F.desc("c"), F.asc("w"))
    xy = cnt.withColumn("rank", F.row_number().over(win)).select(
        "g",
        "c",
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    s = xy.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("c").alias("n_tokens"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n_terms").cast("double")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    # vx = 0 (single-term group) -> NULL via division; r2 also needs vy > 0
    # (all-equal counts give vy = 0: a perfectly flat line, r2 undefined)
    slope = F.when(vx > 0, cov / vx)
    intercept = F.when(vx > 0, (F.col("sy") - (cov / vx) * F.col("sx")) / n)
    r2 = F.when((vx > 0) & (vy > 0), (cov * cov) / (vx * vy))
    if round_to is not None:
        slope = F.round(slope, round_to)
        intercept = F.round(intercept, round_to)
        r2 = F.round(r2, round_to)
    return s.select(
        F.col("g").alias("group"),
        "n_terms",
        "n_tokens",
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    ).orderBy("group")


# ------------------------------------------------- unigram LM surprisal --


def with_unigram_surprisal(
    df: DataFrame,
    tokens_col: str = "tokens",
    out: str = "surprisal",
    counts: DataFrame | None = None,
    states: DataFrame | None = None,
    sketch: str | None = None,
    round_to: int | None = None,
    group_by: str | None = None,
) -> DataFrame:
    """Per-document mean unigram surprisal — the LM-proxy quality signal
    (CCNet/Wenzek et al. 2020 rank corpora by LM perplexity; the unigram
    model is its cheapest honest stand-in): for a doc with tokens t_1..t_n,

        surprisal = −(1/n) · Σ_i log2(c(t_i) / N)    [bits/token]

    where c(t) is the corpus-wide count of token t and N the corpus token
    total. Low = templated/boilerplate-heavy, high = rare-token noise; both
    tails are what quality gates cut.

    Two sources for c(t), picked by argument:

    - EXACT (default, or pass a precomputed ``counts`` (token, cnt) frame):
      one explode→groupBy(token) count pass (map-side partial agg — the
      shuffle is vocabulary-sized, Zipf-small relative to the corpus), the
      vocabulary collected driver-side and closure-shipped as two numpy
      arrays. Contract: the VOCABULARY must fit the driver (tens of
      millions of entries ≈ hundreds of MB is fine; an unbounded id space
      is what the states mode is for).
    - CM-SERVED (pass ``states`` + ``sketch``): counts come from ONE
      global Count-Min state row (KBs broadcast, corpus never recounted)
      — the scale path, and the daily-delta path: score a fresh crawl
      against the persisted corpus model without touching the corpus. CM
      never undercounts, so the CM-served surprisal never EXCEEDS the
      exact one by more than rounding, and undershoots by at most
      log2(1 + ε·N/c) per token (tested).

    The scoring pass itself is one ``mapInArrow`` over the docs — no
    shuffle, schema preserved, ``out`` appended as double (NULL for
    empty/NULL token arrays). Tokens unseen in the counts table floor at
    count 1 (deterministic add-one backoff for delta scoring; cannot
    happen in self-corpus exact mode). ``round_to`` rounds the result
    (cross-engine float comparisons).

    No NULL elements inside token arrays (the tokenize.py contract).

    ``group_by``: PER-GROUP models (e.g. per-source — the per-domain
    perplexity-normalization move: each doc scores against ITS source's
    distribution, so one domain's common vocabulary doesn't read as
    another's noise). Exact mode counts per (group, token); CM mode wants
    GROUPED states (one CM per group; ``build_sketches(group_by=...)``);
    a precomputed ``counts`` frame must then be (group, token, cnt). Docs
    whose group has no model get NULL. Group values are matched by their
    string form (the kernel's state key) — string/int group columns only,
    the same safe set as exact_rescore_topk's semi-join.
    """
    import numpy as np
    import pyarrow as pa

    if (states is None) != (sketch is None):
        raise ValueError("pass BOTH states and sketch for the CM-served mode")

    # models: group key (str, or None for ungrouped) -> ("cm", bytes, N) |
    # ("exact", sorted int64 vocab, logp array, N)
    models: dict = {}
    if states is not None:
        from sketchlib.spark.query import load_states

        picked = sorted(
            (g, sk) for (g, name), sk in load_states(states).items() if name == sketch
        )
        if not picked:
            raise ValueError(f"no states for sketch {sketch!r}")
        for g, sk in picked:
            if not hasattr(sk, "query") or not hasattr(sk, "total"):
                raise ValueError(
                    f"sketch {sketch!r} is not a Count-Min (no point queries)"
                )
        if group_by is None:
            acc = picked[0][1]
            for _, sk in picked[1:]:
                acc = acc.merge(sk)
            models[None] = ("cm", acc.to_bytes(), float(acc.total))
        else:
            for g, sk in picked:
                models[g] = ("cm", sk.to_bytes(), float(sk.total))
    else:
        if counts is None:
            gsel = [F.col(group_by).alias("_g")] if group_by else []
            counts = (
                df.select(*gsel, F.explode(tokens_col).alias("_t"))
                .groupBy(*(["_g"] if group_by else []), "_t")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
        cpdf = counts.toPandas()
        cols = list(cpdf.columns)
        if group_by and len(cols) < 3:
            raise ValueError(
                "grouped exact mode needs a (group, token, cnt) counts frame"
            )
        toki, cnti = (1, 2) if group_by else (0, 1)
        groups = (
            cpdf[cols[0]].astype(str).to_numpy() if group_by
            else np.zeros(len(cpdf), dtype=np.int8)
        )
        for gval in (np.unique(groups) if group_by else [None]):
            sub = cpdf if gval is None else cpdf[groups == gval]
            vocab = sub[cols[toki]].to_numpy()
            cnt = sub[cols[cnti]].to_numpy(dtype=np.float64)
            n = float(cnt.sum())
            order = np.argsort(vocab)
            models[gval if gval is None else str(gval)] = (
                "exact",
                np.ascontiguousarray(vocab[order].astype(np.int64)),
                np.log2(np.ascontiguousarray(cnt[order]) / n),
                n,
            )

    from pyspark.sql.types import StructType

    # StructType.add mutates in place — build the widened schema on a COPY
    # or the input frame itself grows a phantom column
    result_schema = StructType(list(df.schema.fields)).add(out, "double")

    def score(batches):
        import pandas as pd

        from sketchlib.spark.build import group_name as _gname

        from sketchlib.sketches.base import deserialize as _des

        resolved: dict = {}

        def lp_fn(key):
            """group key -> vectorized logp(unique keys) fn, or None."""
            if key in resolved:
                return resolved[key]
            m = models.get(key)
            if m is None:
                fn = None
            elif m[0] == "cm":
                sk, n = _des(m[1]), m[2]

                def fn(u, sk=sk, n=n):
                    est = np.maximum(sk.query(u).astype(np.float64), 1.0)
                    return np.log2(est / n)
            else:
                _, voc, lgp, n = m
                fl = np.log2(1.0 / n)

                def fn(u, voc=voc, lgp=lgp, fl=fl):
                    pos = np.clip(np.searchsorted(voc, u), 0, len(voc) - 1)
                    hit = voc[pos] == u
                    return np.where(hit, lgp[pos], fl)

            resolved[key] = fn
            return fn

        for batch in batches:
            idx = batch.schema.get_field_index(tokens_col)
            col = batch.column(idx)
            flat = col.flatten().to_numpy(zero_copy_only=False)
            lens = pa.compute.list_value_length(col).to_numpy(zero_copy_only=False)
            lens = np.nan_to_num(lens, nan=0).astype(np.int64)
            vals = np.zeros(batch.num_rows, dtype=np.float64)
            has_model = np.ones(batch.num_rows, dtype=bool)
            if flat.size:
                f64 = np.asarray(flat)
                if f64.dtype.kind not in ("i", "u"):
                    f64 = f64.astype(np.int64)
                tok_lp = np.zeros(len(f64), dtype=np.float64)
                if group_by is None:
                    u, inv = np.unique(f64, return_inverse=True)
                    tok_lp = lp_fn(None)(u)[inv]
                else:
                    gidx = batch.schema.get_field_index(group_by)
                    if gidx < 0:  # column(-1) would silently read the LAST column
                        raise KeyError(
                            f"group column {group_by!r} not in batch schema "
                            f"{batch.schema.names}"
                        )
                    gvals = batch.column(gidx).to_numpy(zero_copy_only=False)
                    codes, uniq = pd.factorize(gvals)
                    tcodes = np.repeat(codes, lens)
                    has_model[:] = False
                    for ci, gv in enumerate(uniq):
                        # the kernel's state key is group_name(value) (Spark-
                        # CAST semantics); NULL groups were keyed '__null__'
                        key = "__null__" if pd.isna(gv) else _gname(gv)
                        fn = lp_fn(key)
                        if fn is None:
                            continue  # no model for this group → NULL rows
                        has_model[codes == ci] = True
                        sel = tcodes == ci
                        if sel.any():
                            u, inv = np.unique(f64[sel], return_inverse=True)
                            tok_lp[sel] = fn(u)[inv]
                    nullg = codes < 0  # factorize marks NULL -1
                    if nullg.any() and lp_fn("__null__") is not None:
                        has_model[nullg] = True
                        sel = tcodes < 0
                        if sel.any():
                            u, inv = np.unique(f64[sel], return_inverse=True)
                            tok_lp[sel] = lp_fn("__null__")(u)[inv]
                starts = np.cumsum(lens) - lens
                # reduceat over NON-EMPTY rows only: an empty row's start
                # equals the next row's (or len(tok_lp) at the tail), and
                # reduceat treats every index as both a start and the
                # previous segment's END — a clipped trailing start would
                # silently truncate the last non-empty doc's sum (the same
                # trailing-empty-row trap dedup.py's islands scan documents)
                nonempty = lens > 0
                sums = np.zeros(batch.num_rows, dtype=np.float64)
                vstarts = starts[nonempty]
                if vstarts.size:
                    sums[nonempty] = np.add.reduceat(tok_lp, vstarts)
                vals = -sums / np.maximum(lens, 1)
            if round_to is not None:
                vals = np.round(vals, round_to)
            valid = (lens > 0) & has_model
            arr = pa.array(
                np.where(valid, vals, np.nan), mask=~valid, type=pa.float64()
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(batch.num_columns)] + [arr],
                schema=pa.schema(list(batch.schema) + [pa.field(out, pa.float64())]),
            )

    return df.mapInArrow(score, result_schema)

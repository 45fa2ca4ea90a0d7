"""Scoped SQL front door for the Verdict-style approximate query set.

Verdict's users type SQL; this module gives sketchlib the same entry point
for the reference query surface (SURVEY.md §2C) without building a SQL
dialect: only the STATEMENT SKELETON is parsed here —

    SELECT <approx_fn>(...)[, <approx_fn>(...) ...]
    FROM <table> | (<SELECT ...>)               -- derived tables may
    [WHERE <expr>] [GROUP BY <col>[, <col> ...]]  -- themselves be approx
    [HAVING <pred over result cols>]
    [ORDER BY <col> [ASC|DESC][, <col> [ASC|DESC] ...]] [LIMIT <n>]

and single APPROX_COUNT/APPROX_SUM aggregates over equi-joins —
``FROM a [alias] JOIN b [alias] ON qual.k = qual.k [JOIN c ON ...]
[WHERE ...] [GROUP BY col]`` — answered from a universe-scramble pair
(p-composition), a single fact-side scramble with the exact dimension(s)
broadcast (the fact×dim shape, incl. the three-table chain), or on-the-fly
sampling.

Multiple SCALAR aggregates (COUNT_DISTINCT/COUNT/SUM/AVG) compose in one
statement — every sketch aggregate becomes one SketchSpec and they all
build in a SINGLE scan; TOPK/PERCENTILE (multi-row shapes) go alone.
Aggregate arguments may be expressions (one paren nesting level); the WHERE
expression is handed verbatim to Catalyst (``DataFrame.filter`` accepts any
Spark SQL expression), so predicates are full Spark SQL, not a subset.
Supported aggregates:

    APPROX_COUNT_DISTINCT(col [, rse=0.01])      → HLL        (Q1/Q2)
    APPROX_TOPK(col, k [, eps=1e-4])             → Count-Min  (Q3)
    APPROX_TOP_SUM(key, w, k [, eps=1e-4])       → weighted Count-Min
                                                   (top keys BY SUM(w))
    APPROX_FREQUENT(col, k [, eps=1e-4])         → Misra-Gries (DETERMINISTIC
                                                   heavy hitters: never over-
                                                   counts, exact undercount
                                                   certificate — no δ)
    APPROX_PERCENTILE(col, q1[, q2, ...])        → KLL        (Q4)
        [, rank_err=ε → KLL | rel_err=α → DDSketch | weight=w → weighted
         t-digest: the value below which q of SUM(w) lies]
    APPROX_MAD(col)                              → KLL/t-digest (robust spread;
                                                   bracket certificate)
    APPROX_TRIMMED_MEAN(col [, lo, hi])          → KLL/t-digest (robust mean over
                                                   the (lo, hi] quantile window)
    APPROX_HISTOGRAM(col, n_bins)                → KLL/t-digest (equi-depth bin
                                                   edges, ≈1/n_bins mass per bin)
    APPROX_SPECTRUM(col, r [, d=<dim>, ell=<rows>])
                                                 → Frequent Directions (top-r
                                                   Gram eigenvalues of an array
                                                   column, covariance-error bound)
    APPROX_SUM(col, ratio) / APPROX_COUNT(ratio) → uniform sample + CLT CI
    APPROX_VARIANCE(col, ratio) / APPROX_STDDEV(col, ratio)
                                                 → uniform sample + delta-method CI
    APPROX_COVAR(x, y, ratio) / APPROX_CORR(x, y, ratio)
                                                 → uniform sample; CLT / Fisher-z CI
    APPROX_JOIN_ROWS(a.k1, b.k2 [, eps]) FROM t1 a, t2 b
                                                 → CM inner product (join priced
                                                   without running it; states-served
                                                   when both sides have geometry-
                                                   compatible registered CMs)

FROM accepts a registered temp view name, a parquet path, or a name found in
the optional ``tables`` dict. If a ``SketchCatalog`` is passed and holds
fresh states for (table, aggregate), the query is answered FROM STATES ONLY
— Verdict's A5 "scan the sample instead of the base table" substitution.
Pass ``catalog_key`` to name the artifact, or just ``catalog`` alone for
Verdict's real UX: AUTO-SELECTION (``resolve_catalog_key``) picks the best
registered states/sample for the statement and silently falls back to an
on-the-fly build when nothing fits. Every result carries explicit error
columns.

Statements with NO approx aggregate pass through to Spark SQL verbatim
(Verdict's middleware behavior for exact queries — A4). Anything else
outside the skeleton raises with a pointer to the DataFrame API. (Verdict
itself accepted only a SQL subset it could rewrite — unsupported syntax
erred likewise.)
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from sketchlib.planner import hll_params, kll_params
from sketchlib.spark.build import SketchSpec, build_sketches
from sketchlib.spark.query import (
    equidepth_histogram_df,
    estimates_df,
    local_frame,
    mad_df,
    mg_topk_df,
    quantiles_df,
    rel_quantiles_df,
    spectrum_df,
    topk_df,
    trimmed_mean_df,
)

_ARGS = r"(?:[^()]|\([^()]*\))*"  # one nesting level: APPROX_SUM(round(x, 2), 0.1)

_SKELETON = re.compile(
    rf"^\s*SELECT\s+(?P<select>APPROX_[A-Z_]+\s*\({_ARGS}\)(?:\s+AS\s+\w+)?"
    rf"(?:\s*,\s*APPROX_[A-Z_]+\s*\({_ARGS}\)(?:\s+AS\s+\w+)?)*)\s*"
    r"FROM\s+(?P<table>[\w./:\-]+)"
    r"(?:\s+WHERE\s+(?P<where>.*?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<group>(?:ROLLUP|CUBE)\s*\([\w\s,]+\)"
    r"|GROUPING\s+SETS\s*\(\s*\([\w\s,]*\)(?:\s*,\s*\([\w\s,]*\))*\s*\)"
    r"|[\w]+(?:\s*,\s*[\w]+)*))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# GROUP BY ROLLUP(a, b) / CUBE(a, b) / GROUPING SETS ((a, b), (a), ()):
# grouping sets answered from ONE finest-grain sketch build — coarser
# sets are state MERGES, not rescans
_ROLLUP_GROUP = re.compile(
    r"^\s*(?:(?P<mode>ROLLUP|CUBE)\s*\(\s*(?P<cols>[\w]+(?:\s*,\s*[\w]+)*)\s*\)"
    r"|(?P<gsets>GROUPING\s+SETS)\s*"
    r"\(\s*(?P<sets>\([\w\s,]*\)(?:\s*,\s*\([\w\s,]*\))*)\s*\))\s*$",
    re.IGNORECASE,
)

_GSET_ITEM = re.compile(r"\(([\w\s,]*)\)")

_AGG = re.compile(rf"(APPROX_[A-Z_]+)\s*\(({_ARGS})\)", re.IGNORECASE)
# alias-aware variant for the select list only: APPROX_X(args) [AS name]
_AGG_ALIASED = re.compile(
    rf"(APPROX_[A-Z_]+)\s*\(({_ARGS})\)(?:\s+AS\s+(\w+))?", re.IGNORECASE
)
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _num(a) -> float | None:
    """float(a) or None — the optional-numeric-argument parse shared by
    every accuracy/ratio-honoring site (one tolerance policy, one place)."""
    try:
        return float(a)
    except (TypeError, ValueError):
        return None


def _ratio_or_default(fn: str, ratio_arg, default: float = 0.1) -> float:
    """The on-the-fly sampling ratio: the statement's numeric argument, the
    default when none was given — and a DESCRIPTIVE error (not a leaked
    float() traceback) when an argument was given but isn't numeric."""
    r = _num(ratio_arg)
    if r is None:
        if ratio_arg is not None:
            raise ValueError(
                f"{fn} over a JOIN takes a numeric sampling ratio argument, "
                f"got {ratio_arg!r} — e.g. APPROX_COUNT(0.1) or "
                "APPROX_SUM(col, 0.1)"
            )
        return default
    return r

# Accuracy-contract tail (the BlinkDB/Verdict UX: the user states a TARGET,
# the system plans the cheapest parameters meeting it): ``<statement>
# WITHIN <pct>% ERROR [AT CONFIDENCE <conf>%]``. Peeled before the other
# tails, so it may sit after GROUP BY or after ORDER BY/LIMIT alike.
_WITHIN_TAIL = re.compile(
    r"^(?P<body>.*?\S)\s+WITHIN\s+(?P<pct>\d+(?:\.\d+)?)\s*%\s+ERROR"
    r"(?:\s+AT\s+CONFIDENCE\s+(?P<conf>\d+(?:\.\d+)?)\s*%)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# Error-estimator modifier: ``<statement> ERROR BY SUBSAMPLING`` swaps the
# sampling aggregates' closed-form CLT error columns for VerdictDB's
# variational-subsampling spread (`[paper:VerdictDB §3.2]`, subsample.py).
# The ESTIMATES are identical either way — only the error columns change
# estimator — so the modifier is a statement tail, not a different
# statement. Peeled first (like WITHIN), so it may follow any other tail.
_SUBSAMPLE_TAIL = re.compile(
    r"^(?P<body>.*?\S)\s+ERROR\s+BY\s+SUBSAMPLING\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# the aggregates the subsample estimator serves. COUNT_DISTINCT serves from
# UNIVERSE scrambles (the sample's distinct values are a Bernoulli(p) sample
# of the value domain); the rest from uniform scrambles.
_SUBSAMPLE_FNS = ("APPROX_COUNT", "APPROX_SUM", "APPROX_AVG",
                  "APPROX_VARIANCE", "APPROX_STDDEV",
                  "APPROX_COVAR", "APPROX_CORR", "APPROX_PERCENTILE",
                  "APPROX_COUNT_DISTINCT")

# the natural spelling of the illegal combination — ``WITHIN 1% ERROR BY
# SUBSAMPLING`` — loses its ERROR keyword to the subsample tail, leaving a
# body that matches neither _WITHIN_TAIL nor the skeleton; detect it so the
# refusal names the real conflict instead of "unsupported statement"
_WITHIN_STUB = re.compile(
    r"\bWITHIN\s+\d+(?:\.\d+)?\s*%"
    r"(?:\s+AT\s+CONFIDENCE\s+\d+(?:\.\d+)?\s*%)?$",
    re.IGNORECASE,
)

_WITHIN_SUBSAMPLE_MSG = (
    "a WITHIN ... ERROR contract is planned by INVERTING the closed-form "
    "CLT bounds — it cannot be combined with ERROR BY SUBSAMPLING; state "
    "one error mechanism"
)

# optional named accuracy arguments of APPROX_PERCENTILE — quantiles are
# numbers in (0,1) too, so a positional accuracy argument would be ambiguous.
# Two contracts, two sketch families: rank_err= routes to KLL (bound in RANK
# units, ε(k) ≈ 3.31/k) and rel_err= routes to DDSketch (bound in RELATIVE
# VALUE units, |v̂ − v_q| ≤ α·|v_q|) — one statement takes at most one.
_RANK_ERR_ARG = re.compile(r"^rank_err\s*=\s*([0-9.eE+\-]+)$", re.IGNORECASE)
_REL_ERR_ARG = re.compile(r"^rel_err\s*=\s*([0-9.eE+\-]+)$", re.IGNORECASE)
# weight= names a COLUMN: the statement asks for WEIGHT-MASS quantiles
# (the value below which q of Σw lies), served by a weighted t-digest
_PCT_WEIGHT_ARG = re.compile(r"^weight\s*=\s*(\w+)$", re.IGNORECASE)


def _sampling_ratio(fn: str, args: list) -> float:
    """The sampling ratio argument an on-the-fly sampling aggregate draws
    its Bernoulli sample at (COUNT's first argument, COVAR/CORR's third,
    the others' second); ValueError naming it when missing or not numeric."""
    i = 0 if fn == "APPROX_COUNT" else 2 if fn in ("APPROX_COVAR", "APPROX_CORR") else 1
    r = _num(args[i]) if len(args) > i else None
    if r is None:
        example = {0: "APPROX_COUNT(0.1)", 1: f"{fn}(col, 0.1)", 2: f"{fn}(x, y, 0.1)"}[i]
        raise ValueError(
            f"{fn} built on the fly needs a numeric sampling ratio argument, e.g. "
            f"{example} — or pass catalog=... with a registered sample to serve it"
        )
    return r


def _pct_weight(args: list) -> str | None:
    """Weight column from ``APPROX_PERCENTILE(col, q..., weight=w)`` —
    routes to a WEIGHTED tdigest (weight-mass quantiles); None = plain."""
    for a in args[1:]:
        mw = _PCT_WEIGHT_ARG.match(a.strip())
        if mw:
            return mw.group(1)
    return None

# named arguments of APPROX_SPECTRUM(col, r [, d=<dim>, ell=<rows>])
_FD_ARG = re.compile(r"^(d|ell)\s*=\s*([0-9.eE+\-]+)$", re.IGNORECASE)


def _spectrum_args(args: list) -> tuple[int, int | None, int]:
    """(r, d or None, ell) from APPROX_SPECTRUM's argument list. ``d`` is
    the embedding dimension (inferred from the data when omitted on the
    on-the-fly route; must match the registered sketch on the states
    route); ``ell`` the sketch rows (accuracy knob, Δ ≤ ‖A−A_k‖F²/(ℓ−k))."""
    if len(args) < 2:
        raise ValueError(
            "APPROX_SPECTRUM takes (col, r [, d=<dim>, ell=<rows>]) — r is "
            "the number of top Gram eigenvalues to bracket"
        )
    rv = _num(args[1])
    if rv is None or int(rv) != rv or rv < 1:
        raise ValueError(
            f"APPROX_SPECTRUM r argument {args[1]!r} must be a positive integer"
        )
    d, ell = None, 128
    for a in args[2:]:
        mm = _FD_ARG.match(a.strip())
        if not mm:
            raise ValueError(
                f"APPROX_SPECTRUM argument {a!r} — expected d=<dim> or ell=<rows>"
            )
        v = int(float(mm.group(2)))
        if mm.group(1).lower() == "d":
            d = v
        else:
            ell = v
    return int(rv), d, ell


def _fd_spec_serves(fn, args, s: dict) -> bool:
    """Whether a registered fd spec serves this APPROX_SPECTRUM statement:
    an explicit d= must EQUAL the sketch's dimension (different d = a
    different matrix entirely), and an explicit ell= is an accuracy floor
    only states at least that large achieve (bigger ℓ = smaller Δ)."""
    if fn != "APPROX_SPECTRUM":
        return True
    if s["kind"] != "fd":
        return False
    _, d, ell = _spectrum_args(args)
    p = s.get("params", {})
    if d is not None and int(p.get("d", -1)) != d:
        return False
    if any(_FD_ARG.match(a.strip()) and a.strip().lower().startswith("ell")
           for a in args[2:]):
        return int(p.get("ell", 0)) >= ell
    return True


def _percentile_args(args: list) -> tuple[list[float], float | None, float | None]:
    """(quantiles, requested rank error, requested relative value error)
    from APPROX_PERCENTILE's argument list —
    ``APPROX_PERCENTILE(col, 0.5, 0.99, rank_err=0.005)`` or
    ``APPROX_PERCENTILE(col, 0.5, 0.99, rel_err=0.01)``."""
    qs: list[float] = []
    rank = rel = None
    weighted = False
    for a in args[1:]:
        mm = _RANK_ERR_ARG.match(a.strip())
        mr = _REL_ERR_ARG.match(a.strip())
        if mm:
            rank = float(mm.group(1))
        elif mr:
            rel = float(mr.group(1))
        elif _PCT_WEIGHT_ARG.match(a.strip()):
            weighted = True  # read separately via _pct_weight
        else:
            qs.append(float(a))
    if weighted and (rank is not None or rel is not None):
        raise ValueError(
            "weight= routes to a weighted t-digest, whose bound is the "
            "digest's own proxy fixed at build — it cannot combine with a "
            "rank_err=/rel_err= accuracy contract; drop one"
        )
    if rank is not None and rel is not None:
        raise ValueError(
            "give ONE accuracy spec — rank_err= (KLL, bound in rank units) "
            "and rel_err= (DDSketch, bound relative to the value) are "
            "different contracts served by different sketches"
        )
    return (qs or [0.5]), rank, rel


def _trim_args(args: list) -> tuple[float, float]:
    """(lo, hi) from APPROX_TRIMMED_MEAN(col [, lo, hi]) — the kept
    quantile window; default (0.05, 0.95), the conventional 5% trim."""
    if len(args) == 1:
        return 0.05, 0.95
    if len(args) != 3:
        raise ValueError(
            "APPROX_TRIMMED_MEAN takes (col) or (col, lo, hi) — lo/hi are "
            "the kept quantile window, e.g. APPROX_TRIMMED_MEAN(x, 0.05, 0.95)"
        )
    lo, hi = _num(args[1]), _num(args[2])
    if lo is None or hi is None or not (0.0 <= lo < hi <= 1.0):
        raise ValueError(
            f"APPROX_TRIMMED_MEAN window ({args[1]!r}, {args[2]!r}) must be "
            "numeric with 0 <= lo < hi <= 1"
        )
    return float(lo), float(hi)


def _mad_args(args: list) -> None:
    """APPROX_MAD takes exactly (col) — there is no accuracy knob to pass
    at query time; the bracket width is the serving state's ε."""
    if len(args) != 1:
        raise ValueError(
            "APPROX_MAD takes exactly one argument (the column) — the "
            "bracket width comes from the serving KLL/t-digest state's "
            "rank error; register a larger sketch for a tighter bracket"
        )


def _hist_args(args: list) -> int:
    """Validated bin count from APPROX_HISTOGRAM(col, n_bins)."""
    if len(args) != 2:
        raise ValueError(
            "APPROX_HISTOGRAM takes (col, n_bins) — equi-depth bin edges "
            "at quantiles i/n_bins, each bin holding ≈ 1/n_bins of the rows"
        )
    n = _num(args[1])
    if n is None or int(n) != n or n < 1:
        raise ValueError(
            f"APPROX_HISTOGRAM n_bins argument {args[1]!r} must be a "
            "positive integer"
        )
    return int(n)


def _robust_kll_k(fn: str, args: list) -> int:
    """On-the-fly KLL size for the robust-statistic heads, planned from the
    statement's OWN requirement — ONE policy shared by the single-statement
    and rollup routes (the refusal "register a larger sketch" is reserved
    for user registrations; a route that chose its own sketch must size
    it): ε ≤ window/8 for a trim window (corner windows stay meaningful),
    ε ≤ 1/(4·n_bins) for a histogram (edge noise ≤ half a bin's mass), and
    the 200 default for MAD (its bracket is valid at any ε). Also performs
    the head's argument validation."""
    from sketchlib.planner import kll_params

    if fn == "APPROX_TRIMMED_MEAN":
        tlo, thi = _trim_args(args)
        return max(200, kll_params((thi - tlo) / 8.0)["k"])
    if fn == "APPROX_HISTOGRAM":
        return max(200, kll_params(1.0 / (4.0 * _hist_args(args)))["k"])
    _mad_args(args)
    return 200


# ORDER BY / LIMIT carry through the rewrite applied to the RESULT frame
# (Verdict A14) — stripped off the tail, the inner statement recurses.
# Multi-key: ORDER BY est DESC, group [ASC] over result columns.
_ORDER_TAIL = re.compile(
    r"^(?P<body>.*?\S)\s+ORDER\s+BY\s+"
    r"(?P<keys>\w+(?:\s+(?:ASC|DESC))?(?:\s*,\s*\w+(?:\s+(?:ASC|DESC))?)*)"
    r"(?:\s+LIMIT\s+(?P<n>\d+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _order_cols(keys: str, rename: dict[str, str] | None = None):
    """ORDER BY key list → [Column with direction], result columns only.
    ``rename`` maps statement-level names onto result-frame names (the
    single-column sketch paths emit the generic ``group`` column, so
    ``GROUP BY source … ORDER BY source`` must order that column)."""
    from pyspark.sql import functions as F

    out = []
    for part in keys.split(","):
        toks = part.split()
        c = F.col((rename or {}).get(toks[0].lower(), toks[0]))
        out.append(c.desc() if len(toks) > 1 and toks[1].upper() == "DESC" else c.asc())
    return out
_LIMIT_TAIL = re.compile(
    r"^(?P<body>.*?\S)\s+LIMIT\s+(?P<n>\d+)\s*;?\s*$", re.IGNORECASE | re.DOTALL
)
# HAVING filters the ESTIMATE frame (post-aggregation, like Verdict applying
# it after scale-up): the predicate references result columns (estimate,
# est_sum, group, ...) and is full Spark SQL
_HAVING_TAIL = re.compile(
    r"^(?P<body>.*GROUP\s+BY\s+\w+(?:\s*,\s*\w+)*)\s+HAVING\s+(?P<pred>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# Verdict's ApproxJoinedRelation (A8) as SQL: one APPROX_COUNT/APPROX_SUM
# over an equi-join, answered by universe-sampling both sides on the join
# key (p-composition, sampling.approx_join_agg), or — the fact×dimension
# shape — by ONE fact-side scramble broadcast-joined to the exact dim.
# Table qualifiers in ON must name the FROM tables or their aliases
# (FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey). WHERE is
# full Spark SQL over the joined columns (commutes with the sampling).
_JOIN_SKELETON = re.compile(
    rf"^\s*SELECT\s+(?P<select>APPROX_[A-Z_]+\s*\({_ARGS}\))(?:\s+AS\s+(?P<salias>\w+))?\s*"
    r"FROM\s+(?P<ta>[\w./:\-]+)(?:\s+(?:AS\s+)?(?P<aa>(?!JOIN\b)\w+))?"
    r"\s+JOIN\s+(?P<tb>[\w./:\-]+)(?:\s+(?:AS\s+)?(?P<ab>(?!ON\b)\w+))?"
    r"\s+ON\s+(?P<qa>\w+)\.(?P<ka>\w+)\s*=\s*(?P<qb>\w+)\.(?P<kb>\w+)"
    r"(?:\s+WHERE\s+(?P<where>.*?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<group>\w+(?:\s*,\s*\w+)*))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


# Three-table chain (a08's real shape: fact ⋈ dim ⋈ dim, e.g. orders ⋈
# customer ⋈ nation GROUP BY n_name): the FACT side is sampled (a registered
# uniform scramble via catalog, or an on-the-fly Bernoulli draw of the FIRST
# FROM table), both dimensions are exact and broadcast.
_JOIN3_SKELETON = re.compile(
    rf"^\s*SELECT\s+(?P<select>APPROX_[A-Z_]+\s*\({_ARGS}\))(?:\s+AS\s+(?P<salias>\w+))?\s*"
    r"FROM\s+(?P<t1>[\w./:\-]+)(?:\s+(?:AS\s+)?(?P<a1>(?!JOIN\b)\w+))?"
    r"\s+JOIN\s+(?P<t2>[\w./:\-]+)(?:\s+(?:AS\s+)?(?P<a2>(?!ON\b)\w+))?"
    r"\s+ON\s+(?P<q1>\w+)\.(?P<k1>\w+)\s*=\s*(?P<q2>\w+)\.(?P<k2>\w+)"
    r"\s+JOIN\s+(?P<t3>[\w./:\-]+)(?:\s+(?:AS\s+)?(?P<a3>(?!ON\b)\w+))?"
    r"\s+ON\s+(?P<q3>\w+)\.(?P<k3>\w+)\s*=\s*(?P<q4>\w+)\.(?P<k4>\w+)"
    r"(?:\s+WHERE\s+(?P<where>.*?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<group>\w+(?:\s*,\s*\w+)*))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


# Join-cardinality estimation (the planner's what-would-this-join-cost
# question, answered WITHOUT running the join): ``SELECT
# APPROX_JOIN_ROWS(a.k1, b.k2 [, eps]) FROM t1 a, t2 b`` prices |t1 ⋈ t2|
# from two Count-Min sketches over the key columns (Cormode & Muthukrishnan
# 2005 §4.2 inner product — never undercounts, overshoot ≤ eps·|A|·|B|).
# Comma-FROM, no ON clause: the keys ARE the aggregate's arguments.
_JOIN_ROWS_SKELETON = re.compile(
    r"^\s*SELECT\s+APPROX_JOIN_ROWS\s*\(\s*"
    r"(?P<qa>\w+)\.(?P<ka>\w+)\s*,\s*(?P<qb>\w+)\.(?P<kb>\w+)"
    r"(?:\s*,\s*(?P<eps>[^,()\s]+))?\s*\)"
    r"(?:\s+AS\s+(?P<alias>\w+))?\s*"
    r"FROM\s+(?P<ta>[\w./:\-]+)(?:\s+(?:AS\s+)?(?P<aa>\w+))?\s*,\s*"
    r"(?P<tb>[\w./:\-]+)(?:\s+(?:AS\s+)?(?P<ab>\w+))?\s*;?\s*$",
    re.IGNORECASE,
)


def _join_rows_sides(m) -> tuple[tuple[str, str], tuple[str, str]]:
    """((table_token, key), (table_token, key)) for the aggregate's two
    qualified arguments, resolved against the FROM entries (alias if given,
    else the table token). Unknown qualifiers raise by name."""
    name_a = m.group("aa") or m.group("ta")
    name_b = m.group("ab") or m.group("tb")
    if name_a == name_b:
        # dict construction would silently overwrite — both qualifiers
        # would resolve to the SECOND table and the statement would price
        # the wrong join with no error (the worst failure shape)
        raise ValueError(
            f"APPROX_JOIN_ROWS FROM entries share the name {name_a!r} — "
            "give the two tables distinct aliases"
        )
    ents = {name_a: m.group("ta"), name_b: m.group("tb")}
    out = []
    for q, k in ((m.group("qa"), m.group("ka")), (m.group("qb"), m.group("kb"))):
        if q not in ents:
            raise ValueError(
                f"APPROX_JOIN_ROWS qualifier {q!r} matches no FROM entry "
                f"(have {sorted(ents)}); a self-join needs two distinct aliases"
            )
        out.append((ents[q], k))
    return out[0], out[1]


def _resolve_join_rows_regs(sides, tables, catalog, req_eps):
    """Newest registration pair able to answer APPROX_JOIN_ROWS from states
    alone: each side needs an UNGROUPED sketch set over its table whose
    specs include a Count-Min on the key column, and the two CM geometries
    (w, d, seed) must be IDENTICAL — different hash families map keys to
    different columns, so a mismatched pair is not an estimate at all.
    An explicit eps argument is a precision request: only CMs achieving it
    serve. Returns ((reg_name, spec_name), (reg_name, spec_name)) or None
    (→ on-the-fly build)."""
    import json as _json
    import math as _math
    import os as _os

    if catalog is None:
        return None
    rows = sorted(catalog.list_rows(), key=lambda r: (-r["built_unix"], r["name"]))

    def cands(token, col):
        base = _table_dir(token, tables)
        if base is None:
            return []
        bn = _os.path.normpath(base)
        out = []
        for reg in rows:
            if _os.path.normpath(reg["input_dir"]) != bn or reg["group_by"] != "":
                continue
            for s in _json.loads(reg["specs_json"]):
                if s["kind"] != "cm" or s["column"] != col:
                    continue
                if s.get("weight"):
                    # a weighted CM's cells hold SUM(w), not multiplicities —
                    # its inner product would price the join in weight
                    # units (the cross-serving trap _cm_spec_serves guards
                    # on the single-statement routes)
                    continue
                p = s.get("params", {})
                eps = float(p.get("eps", 1e-4))
                if req_eps is not None and eps > req_eps * (1 + 1e-9):
                    continue
                geom = (
                    int(_math.ceil(_math.e / eps)),
                    int(_math.ceil(_math.log(1.0 / float(p.get("delta", 0.01))))),
                    int(p.get("seed", 7)),
                )
                out.append((reg["name"], s["name"], geom))
        return out

    ca, cb = cands(*sides[0]), cands(*sides[1])
    for na, sa, ga in ca:
        for nb, sb, gb in cb:
            if ga == gb:
                return (na, sa), (nb, sb)
    return None


def _approx_join_rows(spark, m, tables, catalog, sides, picks, req_eps) -> DataFrame:
    """Execute APPROX_JOIN_ROWS over the plan's ``sides`` ((table, key)
    each): states-served from ``picks`` when both sides have
    geometry-compatible registered CMs (ZERO base-table scans — A5 extended
    to the join-size question), else an on-the-fly build at ``req_eps``
    (one scan per side, the join itself never runs). Output row:
    (estimate, abs error bound); AS alias renames to (alias, alias_err)."""
    from pyspark.sql import functions as F

    from sketchlib.spark.query import _join_size_from_loaded, _rows_to_states, join_size_estimate

    if picks is not None:
        (na, sa), (nb, sb) = picks
        rows_a, rows_b = catalog.state_rows(na, sa), catalog.state_rows(nb, sb)
        if rows_a is not None and rows_b is not None:
            est, err = _join_size_from_loaded(
                _rows_to_states(rows_a), _rows_to_states(rows_b), sa, sketch_b=sb
            )
        else:
            est, err = join_size_estimate(
                catalog.states(na), catalog.states(nb), sa, sketch_b=sb
            )
    else:
        eps = req_eps if req_eps is not None else 1e-4
        params = {"eps": eps, "delta": 0.01, "seed": 7}
        states = []
        for token, key in sides:
            df = _resolve_table(spark, token, tables).select(F.col(key).alias("_jk"))
            states.append(
                build_sketches(df, [SketchSpec("cm_jk", "cm", "_jk", params)], group_by=None)
            )
        est, err = join_size_estimate(states[0], states[1], "cm_jk")
    name = m.group("alias") or "join_rows_est"
    err_name = f"{m.group('alias')}_err" if m.group("alias") else "join_rows_err"
    return local_frame(spark, [(float(est), float(err))], f"{name} double, {err_name} double")


def _resolve_join3_key(toks, tables, catalog, req_ratio) -> str | None:
    """Auto-selected UNIFORM fact scramble for a three-table chain (None →
    on-the-fly Bernoulli draw of the first FROM table). An explicit ratio
    argument is a precision request: only samples meeting it may serve."""
    import os as _os

    dirs = [_table_dir(t, tables) for t, _ in toks]
    cands = [
        r for r in catalog.list_sample_rows()
        if r["kind"] == "uniform"
        and (req_ratio is None or float(r["ratio"] or 0.0) >= req_ratio - 1e-12)
        and any(
            d is not None and _os.path.normpath(d) == _os.path.normpath(r["input_dir"])
            for d in dirs
        )
    ]
    if not cands:
        return None
    return max(cands, key=lambda r: (float(r["ratio"] or 0.0), r["name"]))["name"]


def _sample_row(regs, name: str):
    """The registry row of sample ``name``; ValueError when none is live."""
    row = next((r for r in regs.list_sample_rows() if r["name"] == name), None)
    if row is None:
        raise ValueError(f"unknown sample {name!r}")
    return row


def _table_base(t: str) -> str:
    """A FROM token's bare table name (a path's last component, no suffix)
    — what an ON qualifier may call it."""
    return t.rstrip("/").split("/")[-1].split(".")[0]


def _join3_plan(m, tables, regs, key) -> tuple:
    """(fact sample row or None, fact index, chain steps) for a three-table
    join. The fact is the FROM table holding the uniform scramble ``key``
    names, else the FIRST FROM table (sampled on the fly). The steps join
    the other tables to the fact in ON-clause order: (i, new_key, old_key)
    attaches table i, (None, ka, kb) filters an already-joined pair.
    ValueError for a sample that cannot serve, an ON qualifier naming no
    FROM table, or ON clauses that leave a table unjoined."""
    import os as _os

    toks = [(m.group(f"t{i}"), m.group(f"a{i}")) for i in (1, 2, 3)]

    def _which(q: str) -> int:
        for i, (t, a) in enumerate(toks):
            if q == t or q == a or _table_base(t) == q:
                return i
        raise ValueError(
            f"ON qualifier {q!r} names none of the FROM tables/aliases "
            f"{[t for t, _ in toks]} / {[a for _, a in toks]}"
        )

    remaining = [
        ((_which(m.group("q1")), m.group("k1")), (_which(m.group("q2")), m.group("k2"))),
        ((_which(m.group("q3")), m.group("k3")), (_which(m.group("q4")), m.group("k4"))),
    ]
    meta, fact_i = None, 0
    if key is not None:
        meta = _sample_row(regs, key)
        if meta["kind"] != "uniform":
            raise ValueError(
                "three-table approx joins take a UNIFORM fact scramble — "
                f"{key!r} is {meta['kind']} (universe survival does not "
                "compose across two chained join keys)"
            )
        sdir = _os.path.normpath(meta["input_dir"])
        fact_i = next(
            (i for i, (t, _) in enumerate(toks)
             if (d := _table_dir(t, tables)) is not None and _os.path.normpath(d) == sdir),
            None,
        )
        if fact_i is None:
            raise ValueError(
                f"sample {key!r} was built over {meta['input_dir']!r}, which is "
                f"none of the FROM tables {[t for t, _ in toks]}"
            )
    steps, in_join = [], {fact_i}
    while remaining:
        for c in remaining:
            (ia, ka), (ib, kb) = c
            if (ia in in_join) != (ib in in_join):
                new_i, new_k, old_k = (ib, kb, ka) if ia in in_join else (ia, ka, kb)
                steps.append((new_i, new_k, old_k))
                in_join.add(new_i)
                remaining.remove(c)
                break
            if ia in in_join and ib in in_join:
                steps.append((None, ka, kb))
                remaining.remove(c)
                break
        else:
            raise ValueError("ON clauses do not connect the three FROM tables into a chain")
    if len(in_join) != 3:
        missing = [toks[i][0] for i in range(3) if i not in in_join]
        raise ValueError(
            f"ON clauses never join {missing} — each JOINed table needs an ON "
            "condition linking it to the others (a redundant condition between "
            "two already-joined tables leaves the third as a cross join, which "
            "the approximate path refuses rather than silently mis-estimating)"
        )
    return meta, fact_i, steps


def _approx_join3(spark, m, tables, catalog, meta, fact_i, steps) -> DataFrame:
    """fact ⋈ dim ⋈ dim with a Bernoulli-sampled fact side: the sampled
    row is the independent inclusion unit and brings every row the chained
    joins attach to it, so the estimator clusters joined rows per sampled
    row (``cluster_join_agg``) — exact CIs whatever the dims' key
    multiplicity, reducing to plain Bernoulli HT when both dims are
    key-unique. ``meta``, ``fact_i`` and ``steps`` are the plan's
    ``_join3_plan``: the registered uniform fact scramble (universe
    scrambles are refused there — per-key survival does not compose across
    two chained keys; use the two-table pair path for universe⋈universe),
    or None → the FIRST FROM table drawn on the fly at the requested ratio.
    """
    from pyspark.sql import functions as F

    fn, value_col, ratio_arg = _join_agg(m.group("select"))

    toks = [(m.group(f"t{i}"), m.group(f"a{i}")) for i in (1, 2, 3)]
    qnames = {n for t, a in toks for n in (t, a, _table_base(t)) if n}
    where = _strip_qualifiers(m.group("where"), qnames) if m.group("where") else None
    group = _parse_group(m.group("group"))

    if meta is not None:
        fact_df, ratio = catalog.sample(meta["name"]), float(meta["ratio"])
    else:
        # on-the-fly: the FIRST FROM table is the fact (the conventional
        # statement order), Bernoulli-sampled at the aggregate's ratio arg
        from sketchlib.spark.sampling import uniform_sample

        ratio = _ratio_or_default(fn, ratio_arg)
        fact_df = uniform_sample(_resolve_table(spark, toks[0][0], tables), ratio)

    # the sampled row is the independent inclusion unit: it brings every
    # row the chained joins attach to it, so the estimator clusters by a
    # per-sampled-row fingerprint (deterministic — see row_fingerprint:
    # a nondeterministic id would block predicate pushdown to the scan)
    from sketchlib.spark.sampling import row_fingerprint

    joined = fact_df.withColumn("_cluster", row_fingerprint(fact_df))
    for i, new_k, old_k in steps:
        if i is None:
            joined = joined.filter(F.col(new_k) == F.col(old_k))
            continue
        # no forced broadcast: the planner auto-broadcasts small dims; a
        # big exact side must be allowed to shuffle-join
        bdim = _resolve_table(spark, toks[i][0], tables)
        joined = joined.join(bdim, joined[old_k] == bdim[new_k])
    if where:
        joined = joined.filter(where)
    from sketchlib.spark.sampling import cluster_join_agg

    out = cluster_join_agg(
        joined, F.col("_cluster"), ratio, value_col=value_col, group_by=group
    )
    keep = ["est_count", "count_err"] + (["est_sum", "sum_err"] if value_col is not None else [])
    gcols = [] if not group else (list(group) if isinstance(group, (list, tuple)) else [group])
    return out.select(*gcols, *keep)


def _refuse_join_subquery_where(where: str | None) -> None:
    """Approximate JOIN statements hand their WHERE to DataFrame.filter /
    the sampling kernels, which reject subqueries — refuse with a pointer
    to the supported shape instead of leaking Spark's AnalysisException.
    (Single-table statements DO support subquery predicates via
    _apply_where; for joins, pre-filter in a CTE or derived table.)"""
    if where and re.search(r"\(\s*SELECT\b", _mask_literals(where), re.IGNORECASE):
        raise ValueError(
            "subquery predicates are not supported in the WHERE of an "
            "approximate JOIN statement — pre-filter the table in a CTE "
            "(WITH f AS (SELECT ... WHERE k IN (...)) SELECT APPROX_... "
            "FROM f JOIN ...) or a derived table instead"
        )


def _strip_qualifiers(expr: str, names: set[str]) -> str:
    """Drop ``alias.`` / ``table.`` prefixes naming the FROM tokens from a
    predicate: the joined frame carries unqualified columns (TPC-H-style
    schemas have table-prefixed column names, so collisions don't arise).
    Matches are located on LITERAL-MASKED text, so a string literal that
    happens to contain ``alias.`` (e.g. ``url LIKE 'fact.%'``) is never
    rewritten — only real qualifier positions are."""
    if not expr:
        return expr
    pat = re.compile(
        r"\b(?:" + "|".join(re.escape(n) for n in sorted(names, key=len, reverse=True)) + r")\.(?=\w)"
    )
    masked = _mask_literals(expr)
    out, last = [], 0
    for m in pat.finditer(masked):
        out.append(expr[last:m.start()])
        last = m.end()
    out.append(expr[last:])
    return "".join(out)


def _join_agg(select: str) -> tuple[str, str | None, str | None]:
    """(fn, value_col, ratio_arg) for a join statement's single aggregate;
    ValueError for an aggregate joins do not answer."""
    fn, args = [(f.upper(), _split_args(a)) for f, a in _AGG.findall(select)][0]
    if fn == "APPROX_COUNT":
        return fn, None, (args[0] if args else None)
    if fn == "APPROX_SUM":
        return fn, args[0], (args[1] if len(args) > 1 else None)
    raise ValueError(
        f"{fn} is not supported over a JOIN — approximate joins answer "
        "APPROX_COUNT/APPROX_SUM (Verdict's ApproxJoinedRelation)"
    )


def _join_keys(m) -> tuple[str, str]:
    """(left_key, right_key) from a two-table join match; ValueError when
    the ON qualifiers name neither FROM table."""
    ta, tb = m.group("ta"), m.group("tb")
    aa, ab = m.group("aa"), m.group("ab")
    qa, qb, ka, kb = m.group("qa"), m.group("qb"), m.group("ka"), m.group("kb")

    def _owns(q: str, t: str, alias: str | None) -> bool:
        return q == t or q == alias or _table_base(t) == q

    if _owns(qa, ta, aa) and _owns(qb, tb, ab):
        return ka, kb
    if _owns(qa, tb, ab) and _owns(qb, ta, aa):
        return kb, ka
    raise ValueError(
        f"ON qualifiers ({qa!r}, {qb!r}) must name the FROM tables "
        f"({ta!r}, {tb!r}) or their aliases ({aa!r}, {ab!r})"
    )


def _join_samples(key, m, left_key, right_key, tables, regs) -> tuple | None:
    """How a two-table join reads the sample(s) ``key`` names (None → both
    sides sampled on the fly): ("mixed", row, fact_key, dim_key, dim_token)
    — one fact-side scramble, the other side read exact — or ("pair",
    row_a, row_b) — two universe scrambles keyed on their join columns and
    sharing ratio and seed (survival probabilities compose only through a
    SHARED hash). ValueError when the samples cannot serve the join."""
    import os as _os

    if key is None:
        return None
    names = [s.strip() for s in str(key).split(",")]
    if len(names) not in (1, 2):
        raise ValueError(
            "join statements take catalog_key='left_sample,right_sample' "
            "(two universe scrambles) or one fact-side sample name"
        )
    metas = [_sample_row(regs, n) for n in names]
    ta, tb = m.group("ta"), m.group("tb")
    if len(metas) == 1:
        # fact×dimension (A8's common shape): the single named scramble
        # covers ONE side; the other side is read exact and broadcast
        meta = metas[0]
        sdir = _os.path.normpath(meta["input_dir"])
        da, db = _table_dir(ta, tables), _table_dir(tb, tables)
        if da is not None and _os.path.normpath(da) == sdir:
            fact_key, dim_key, dim_token = left_key, right_key, tb
        elif db is not None and _os.path.normpath(db) == sdir:
            fact_key, dim_key, dim_token = right_key, left_key, ta
        else:
            raise ValueError(
                f"sample {names[0]!r} was built over {meta['input_dir']!r}, "
                f"which is neither join side ({ta!r}, {tb!r})"
            )
        if meta["kind"] == "universe" and meta["on_col"] != fact_key:
            raise ValueError(
                f"universe sample {names[0]!r} is keyed on {meta['on_col']!r}, "
                f"not the join key {fact_key!r} — key survival would not "
                "compose through the join"
            )
        return "mixed", meta, fact_key, dim_key, dim_token
    ma, mb = metas
    for meta, k in ((ma, left_key), (mb, right_key)):
        if meta["kind"] != "universe" or meta["on_col"] != k:
            raise ValueError(
                f"sample {meta['name']!r} must be a universe sample on {k!r}; "
                f"got {meta['kind']} on {meta['on_col']!r}"
            )
    if (ma["ratio"], ma["seed"]) != (mb["ratio"], mb["seed"]):
        raise ValueError(
            "join samples must share ratio and seed (survival probabilities "
            f"compose only through the same hash): {names[0]}=({ma['ratio']}, "
            f"{ma['seed']}) vs {names[1]}=({mb['ratio']}, {mb['seed']})"
        )
    return "pair", ma, mb


def _approx_join(spark, m, tables, catalog, pick) -> DataFrame:
    """A two-table approx join from the sample(s) of the plan's
    ``_join_samples`` pick (a universe scramble pair — A5 for joins — or
    one fact-side sample joined to the exact other side), else both sides
    sampled on the fly."""
    fn, value_col, ratio_arg = _join_agg(m.group("select"))
    ta, tb = m.group("ta"), m.group("tb")
    aa, ab = m.group("aa"), m.group("ab")
    left_key, right_key = _join_keys(m)

    group = _parse_group(m.group("group"))
    qnames = {n for n in (ta, tb, aa, ab, _table_base(ta), _table_base(tb)) if n}
    where = _strip_qualifiers(m.group("where"), qnames) if m.group("where") else None

    if pick is not None and pick[0] == "mixed":
        from sketchlib.spark.sampling import approx_join_agg_mixed

        _, meta, fact_key, dim_key, dim_token = pick
        return approx_join_agg_mixed(
            catalog.sample(meta["name"]), _resolve_table(spark, dim_token, tables),
            fact_key, dim_key, meta["kind"], meta["ratio"],
            value_col=value_col, group_by=group, where=where,
        )
    if pick is not None:
        from sketchlib.spark.sampling import approx_join_agg_from_samples

        _, ma, mb = pick
        return approx_join_agg_from_samples(
            catalog.sample(ma["name"]), catalog.sample(mb["name"]),
            left_key, right_key, ma["ratio"], value_col=value_col, group_by=group,
            where=where,
        )

    from sketchlib.spark.sampling import approx_join_agg

    left = _resolve_table(spark, ta, tables)
    right = _resolve_table(spark, tb, tables)
    return approx_join_agg(
        left, right, left_key, right_key,
        value_col=value_col, ratio=_ratio_or_default(fn, ratio_arg), group_by=group,
        where=where,
    )

# Sample-lifecycle DDL — Verdict's literal entry points (SURVEY A2/A3):
#   CREATE [OR REPLACE] SAMPLE s FROM t KIND uniform RATIO 0.1
#       [ON col] [FRACTIONS '{"g": 0.2}'] [SEED 7]
#   SHOW SAMPLES
#   DROP SAMPLE s
_CREATE_SAMPLE = re.compile(
    r"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?SAMPLE\s+(?P<name>\w+)"
    r"\s+FROM\s+(?P<table>[\w./:\-]+)"
    r"\s+KIND\s+(?P<kind>uniform|universe|stratified)"
    r"(?:\s+RATIO\s+(?P<ratio>[\d.eE+-]+))?"
    r"(?:\s+ON\s+(?P<on>\w+))?"
    r"(?:\s+FRACTIONS\s+'(?P<fractions>[^']*)')?"
    r"(?:\s+SEED\s+(?P<seed>\d+))?\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_SKETCHES = re.compile(
    r"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?SKETCHES\s+(?P<name>\w+)"
    r"\s+FROM\s+(?P<table>[\w./:\-]+)"
    r"\s+KINDS\s+(?P<specs>\w+\s*\([^()]*\)(?:\s*,\s*\w+\s*\([^()]*\))*)"
    r"(?:\s+GROUP\s+BY\s+(?P<group>[\w]+(?:\s*,\s*[\w]+)*))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SKETCH_DDL_DEFAULTS = {
    "hll": {"p": 14},
    "cm": {"eps": 1e-4, "delta": 0.01},
    "mg": {"eps": 1e-4},
    "kll": {"k": 200},
    "tdigest": {"compression": 200},
    "dd": {"alpha": 0.01},
    "bloom": {"m_bits": 1 << 20, "h": 7},
    "kmv": {"k": 1024},
    "fd": {"ell": 128},  # d (the vector dimension) is REQUIRED — no default
}
_SHOW_SAMPLES = re.compile(r"^\s*SHOW\s+SAMPLES\s*;?\s*$", re.IGNORECASE)
_DROP_SAMPLE = re.compile(r"^\s*DROP\s+SAMPLE\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE)
_CREATE_ANN = re.compile(
    r"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?ANN\s+INDEX\s+(?P<name>\w+)"
    r"\s+FROM\s+(?P<table>[\w./:\-]+)"
    r"\s+KIND\s+(?P<kind>srp|ivf)"
    r"\s+ON\s+(?P<vec>\w+)"
    r"\s+ID\s+(?P<id>\w+)"
    r"(?:\s+BITS\s+(?P<bits>\d+))?"
    r"(?:\s+LISTS\s+(?P<lists>\d+))?"
    r"(?:\s+SEED\s+(?P<seed>\d+))?\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_ANN = re.compile(r"^\s*SHOW\s+ANN\s+INDEXES\s*;?\s*$", re.IGNORECASE)
_DROP_ANN = re.compile(r"^\s*DROP\s+ANN\s+INDEX\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE)
_REFRESH_ANN = re.compile(r"^\s*REFRESH\s+ANN\s+INDEX\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE)
_CREATE_SIGS = re.compile(
    r"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?SIGNATURES\s+(?P<name>\w+)"
    r"\s+FROM\s+(?P<table>[\w./:\-]+)"
    r"\s+ON\s+(?P<tokens>\w+)"
    r"\s+ID\s+(?P<id>\w+)"
    r"(?:\s+R\s+(?P<r>\d+))?"
    r"(?:\s+BANDS\s+(?P<bands>\d+))?"
    r"(?:\s+SEED\s+(?P<seed>\d+))?\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_SIGS = re.compile(r"^\s*SHOW\s+SIGNATURES\s*;?\s*$", re.IGNORECASE)
_DROP_SIGS = re.compile(r"^\s*DROP\s+SIGNATURES\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE)
_REFRESH_SIGS = re.compile(r"^\s*REFRESH\s+SIGNATURES\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE)
_SHOW_SKETCHES = re.compile(r"^\s*SHOW\s+SKETCHES\s*;?\s*$", re.IGNORECASE)
_DROP_SKETCHES = re.compile(r"^\s*DROP\s+SKETCHES\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE)
_REFRESH_SKETCHES = re.compile(r"^\s*REFRESH\s+SKETCHES\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE)
_REFRESH_SAMPLE = re.compile(r"^\s*REFRESH\s+SAMPLE\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE)


def _resolve_join_key(
    ta, tb, left_key, right_key, tables, catalog, req_ratio: float | None = None
) -> str | None:
    """Auto-selection for APPROX joins. Best: a (left, right) pair of
    registered UNIVERSE scrambles — one per table, keyed on that side's
    join column — sharing (ratio, seed): survival probabilities compose
    only through the same hash; largest shared ratio (lowest error) wins.
    Fallback: ONE fact-side scramble (uniform, or universe on that side's
    join key) — the fact×dimension shape, the other side read exact and
    broadcast. None → the statement samples both sides on the fly.
    ``req_ratio`` (the statement's explicit ratio argument) is honored:
    samples below it are skipped, so the fallback draw runs at the
    requested precision instead of silently widening the CI."""
    import os

    da, db = _table_dir(ta, tables), _table_dir(tb, tables)
    if da is None or db is None:
        return None
    da, db = os.path.normpath(da), os.path.normpath(db)
    all_rows = catalog.list_sample_rows()
    if req_ratio is not None:
        all_rows = [r for r in all_rows if float(r["ratio"] or 0.0) >= req_ratio - 1e-12]
    rows = [r for r in all_rows if r["kind"] == "universe"]
    lefts = [r for r in rows if os.path.normpath(r["input_dir"]) == da and r["on_col"] == left_key]
    rights = [r for r in rows if os.path.normpath(r["input_dir"]) == db and r["on_col"] == right_key]
    pairs = [
        (a, b)
        for a in lefts
        for b in rights
        if (a["ratio"], a["seed"]) == (b["ratio"], b["seed"]) and a["name"] != b["name"]
    ]
    if pairs:
        a, b = max(pairs, key=lambda p: (float(p[0]["ratio"] or 0.0), p[0]["name"], p[1]["name"]))
        return f"{a['name']},{b['name']}"
    # single fact-side candidates: uniform anywhere, or the universe
    # scrambles already matched to their own side's join key above
    singles = lefts + rights + [
        r for r in all_rows
        if r["kind"] == "uniform" and os.path.normpath(r["input_dir"]) in (da, db)
    ]
    if not singles:
        return None
    best = max(
        singles,
        key=lambda r: (float(r["ratio"] or 0.0), r["kind"] == "universe", r["name"]),
    )
    return best["name"]


def _ddl_input_dir(table: str, tables: dict | None, stmt: str) -> str:
    """DDL builds persist FROM a parquet path — resolve via tables (path
    values only) or a literal path in FROM."""
    if tables and table in tables and isinstance(tables[table], str):
        return tables[table]
    if "/" in table:
        return table
    raise ValueError(
        f"{stmt} needs a parquet path for {table!r} — pass "
        "tables={name: path} or a path in FROM"
    )


# A statement is OURS only when its HEAD names one of the three registries —
# a free-floating word search would claim exact Spark SQL that merely
# MENTIONS a user table named 'samples'/'sketches' (e.g. DROP TABLE samples),
# breaking the A4 pass-through contract.
_DDL_HEAD = re.compile(
    r"^\s*(?:CREATE\s+(?:OR\s+REPLACE\s+)?(?:SAMPLE|SKETCHES|SIGNATURES|ANN\s+INDEX)\b"
    r"|SHOW\s+(?:SAMPLES|SKETCHES|SIGNATURES|ANN\s+INDEXES)\b"
    r"|(?:DROP|REFRESH)\s+(?:SAMPLE|SKETCHES|SIGNATURES|ANN\s+INDEX)\b)",
    re.IGNORECASE,
)


def _ddl(spark: SparkSession, sql: str, tables: dict | None, catalog) -> DataFrame:
    """Route registry DDL (a statement ``_DDL_HEAD`` claims) to the
    SketchCatalog."""
    if catalog is None:
        raise ValueError("sample DDL needs a SketchCatalog — pass catalog=...")

    m = _SHOW_SAMPLES.match(sql)
    if m:
        return catalog.list_samples()

    m = _REFRESH_SKETCHES.match(sql)
    if m:
        stats = catalog.refresh(m.group("name"))
        return local_frame(
            spark,
            [(m.group("name"), stats["new_files"], stats["rows_added"], stats["tokens_added"])],
            "name string, new_files int, rows_added long, tokens_added long",
        )

    m = _REFRESH_SAMPLE.match(sql)
    if m:
        stats = catalog.refresh_sample(m.group("name"))
        return local_frame(
            spark,
            [(m.group("name"), stats["new_files"], stats["rows_added"])],
            "name string, new_files int, rows_added long",
        )

    m = _SHOW_ANN.match(sql)
    if m:
        return catalog.list_ann_indexes()

    m = _SHOW_SIGS.match(sql)
    if m:
        return catalog.list_signatures()

    m = _REFRESH_SIGS.match(sql)
    if m:
        stats = catalog.refresh_signatures(m.group("name"))
        return local_frame(
            spark,
            [(m.group("name"), stats["new_files"], stats["rows_added"])],
            "name string, new_files int, rows_added long",
        )

    m = _CREATE_SIGS.match(sql)
    if m:
        catalog.create_signatures(
            m.group("name"),
            _ddl_input_dir(m.group("table"), tables, "CREATE SIGNATURES"),
            tokens_col=m.group("tokens"),
            id_col=m.group("id"),
            r=int(m.group("r") or 128),
            n_bands=int(m.group("bands") or 32),
            seed=int(m.group("seed") or 17),
            overwrite=bool(m.group("replace")),
        )
        return catalog.list_signatures().where(f"name = '{m.group('name')}'")

    m = _REFRESH_ANN.match(sql)
    if m:
        stats = catalog.refresh_ann_index(m.group("name"))
        return local_frame(
            spark,
            [(m.group("name"), stats["new_files"], stats["rows_added"])],
            "name string, new_files int, rows_added long",
        )

    m = _CREATE_ANN.match(sql)
    if m:
        catalog.create_ann_index(
            m.group("name"),
            _ddl_input_dir(m.group("table"), tables, "CREATE ANN INDEX"),
            kind=m.group("kind").lower(),
            vec_col=m.group("vec"),
            id_col=m.group("id"),
            n_bits=int(m.group("bits") or 16),
            n_lists=int(m.group("lists") or 16),
            seed=int(m.group("seed") or 31),
            overwrite=bool(m.group("replace")),
        )
        return catalog.list_ann_indexes().where(f"name = '{m.group('name')}'")

    m = _SHOW_SKETCHES.match(sql)
    if m:
        return catalog.list()

    for pat, exists_fn, drop_fn in (
        (_DROP_SAMPLE, catalog.sample_exists, catalog.drop_sample),
        (_DROP_SKETCHES, catalog.exists, catalog.drop),
        (_DROP_ANN, catalog.ann_exists, catalog.drop_ann_index),
        (_DROP_SIGS, catalog.sig_exists, catalog.drop_signatures),
    ):
        m = pat.match(sql)
        if m:
            name = m.group("name")
            existed = exists_fn(name)
            drop_fn(name)
            return local_frame(spark, [(name, existed)], "name string, dropped boolean")

    m = _CREATE_SKETCHES.match(sql)
    if m:
        name = m.group("name")
        input_dir = _ddl_input_dir(m.group("table"), tables, "CREATE SKETCHES")
        specs = []
        from sketchlib.spark.build import _PLUGIN_STYLE

        for sm in re.finditer(r"(\w+)\s*\(([^()]*)\)", m.group("specs")):
            kind = sm.group(1).lower()
            # user kinds registered via register_sketch_kind are first-class
            # in the DDL too (no parameter defaults — pass key=value args)
            if kind not in _SKETCH_DDL_DEFAULTS and kind not in _PLUGIN_STYLE:
                raise ValueError(
                    f"unknown sketch kind {kind!r} — built-ins "
                    f"{sorted(_SKETCH_DDL_DEFAULTS)}"
                    + (
                        f", registered plugins {sorted(_PLUGIN_STYLE)}"
                        if _PLUGIN_STYLE
                        else ""
                    )
                )
            args = [a.strip() for a in sm.group(2).split(",") if a.strip()]
            if not args or not _IDENT.match(args[0]):
                raise ValueError(f"{kind}(...) needs a column name as its first argument")
            col = args[0]
            params = dict(_SKETCH_DDL_DEFAULTS.get(kind, {}))
            weight = None
            for kv in args[1:]:
                k, eq, v = kv.partition("=")
                if not eq:
                    raise ValueError(f"sketch parameter {kv!r} must be key=value")
                if k.strip().lower() == "weight":
                    # weighted frequency sketch (heavy hitters BY SUM) or
                    # weighted t-digest (weight-mass quantiles): the value
                    # is a COLUMN name, not a number
                    if kind not in ("cm", "mg", "tdigest"):
                        raise ValueError(
                            f"weight= needs a frequency sketch (cm or mg) or "
                            f"a tdigest (weighted quantiles); {kind}(...) has "
                            "no weighted-update semantics"
                        )
                    if not _IDENT.match(v.strip()):
                        raise ValueError(
                            f"{kind} weight={v.strip()!r} must be a column name"
                        )
                    weight = v.strip()
                    continue
                try:
                    fv = float(v)
                except ValueError:
                    raise ValueError(
                        f"sketch parameter {k.strip()}={v.strip()!r} must be numeric"
                    ) from None
                params[k.strip().lower()] = int(fv) if fv.is_integer() else fv
            if kind == "fd" and "d" not in params:
                raise ValueError(
                    "fd(col, d=<dim>[, ell=]) requires d — the fixed "
                    "embedding dimension the sketch reshapes the vector "
                    "stream by (no default could be safe: a wrong d "
                    "silently sketches misaligned rows)"
                )
            spec_name = f"{kind}_{col}" if weight is None else f"{kind}_{col}_w_{weight}"
            specs.append(SketchSpec(spec_name, kind, col, params, weight=weight))
        catalog.create(
            name, input_dir, specs,
            group_by=_parse_group(m.group("group")),
            overwrite=bool(m.group("replace")),
        )
        return catalog.list().where(f"name = '{name}'")

    m = _CREATE_SAMPLE.match(sql)
    if m:
        import json

        name = m.group("name")
        input_dir = _ddl_input_dir(m.group("table"), tables, "CREATE SAMPLE")
        kind = m.group("kind").lower()
        if m.group("fractions"):
            try:
                fractions = json.loads(m.group("fractions"))
            except json.JSONDecodeError:
                raise ValueError(
                    "FRACTIONS must be a JSON object mapping group -> probability, "
                    "e.g. FRACTIONS '{\"web\": 0.1, \"books\": 0.5}'"
                ) from None
        else:
            fractions = None
        try:
            ratio = float(m.group("ratio") or 0.1)
        except ValueError:
            raise ValueError(
                f"RATIO {m.group('ratio')!r} must be a number in (0, 1]"
            ) from None
        catalog.create_sample(
            name,
            input_dir,
            kind=kind,
            ratio=ratio,
            on=m.group("on"),
            fractions=fractions,
            seed=int(m.group("seed") or 42),
            overwrite=bool(m.group("replace")),
        )
        return catalog.list_samples().where(f"name = '{name}'")

    raise ValueError(
        "unsupported DDL — accepted: CREATE [OR REPLACE] SAMPLE s FROM t KIND "
        "uniform|universe|stratified RATIO r [ON col] [FRACTIONS '<json>'] "
        "[SEED n]; CREATE [OR REPLACE] SKETCHES s FROM t KINDS hll(col[, p=14])"
        "[, cm(col[, weight=w]), mg(col[, eps=1e-4][, weight=w]), kll(col), "
        "tdigest(col), dd(col[, alpha=0.01]), "
        "bloom(col), kmv(col), fd(col, d=<dim>[, ell=128])] "
        "[GROUP BY col]; "
        "CREATE [OR REPLACE] ANN INDEX s FROM t KIND srp|ivf ON vec ID id "
        "[BITS n] [LISTS n] [SEED n]; "
        "CREATE [OR REPLACE] SIGNATURES s FROM t ON tokens ID id "
        "[R n] [BANDS n] [SEED n]; "
        "SHOW SAMPLES; DROP SAMPLE s; REFRESH SAMPLE s; "
        "SHOW SKETCHES; DROP SKETCHES s; REFRESH SKETCHES s; "
        "SHOW ANN INDEXES; DROP ANN INDEX s; REFRESH ANN INDEX s; "
        "SHOW SIGNATURES; DROP SIGNATURES s; REFRESH SIGNATURES s"
    )


def _split_args(argstr: str) -> list[str]:
    """Split on TOP-LEVEL commas only (expression args contain commas)."""
    out, depth, cur = [], 0, []
    for ch in argstr:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            piece = "".join(cur).strip()
            if piece:
                out.append(piece)
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


def _expr_slug(expr: str) -> str:
    """Deterministic, human-readable column slug for an expression argument —
    derived from the TEXT, so identical expressions map to identical columns
    (they share one derived column and one sampling slot in _multi_agg)."""
    return re.sub(r"\W+", "_", expr.strip()).strip("_").lower()[:48] or "expr"


def _materialize_expr(df: DataFrame, col: str, slot: str = "") -> tuple[DataFrame, str]:
    """Sketch builds consume COLUMNS; an expression argument is projected to
    a derived column first (Catalyst computes it inside the same scan).

    The derived column is keyed on the EXACT expression text (slug for
    readability + text hash for uniqueness): slugging alone strips operators,
    so distinct expressions like ``a+b`` and ``a-b`` would collide on one
    column and the second aggregate would silently reuse the first's values.
    """
    if _IDENT.match(col):
        return df, col
    import hashlib

    from pyspark.sql import functions as F

    digest = hashlib.sha1(col.strip().encode()).hexdigest()[:8]
    name = f"_expr_{_expr_slug(col)}_{digest}"
    if name not in df.columns:
        df = df.withColumn(name, F.expr(col))
    return df, name


def _parse_group(raw: str | None):
    """GROUP BY clause → None | column name | list of column names."""
    if not raw:
        return None
    if _ROLLUP_GROUP.match(raw):
        # only the plain single-aggregate statement path dispatches rollups
        # (before calling here) — anywhere else must refuse loudly rather
        # than silently grouping by a column literally named "ROLLUP(...)"
        raise ValueError(
            "GROUP BY ROLLUP/CUBE composes only with a plain single-"
            "aggregate statement (no aliases, joins, set operations, or "
            "WITHIN/HAVING tails) — issue one statement per grouping set "
            "for richer shapes"
        )
    parts = [p.strip() for p in raw.split(",")]
    return parts if len(parts) > 1 else parts[0]


def _canon_group(group) -> str:
    """Canonical registration string for a group_by of any shape."""
    if group is None:
        return ""
    return ",".join(group) if isinstance(group, (list, tuple)) else group


def _ungroup(df: DataFrame, base: DataFrame | None, group) -> DataFrame:
    """Restore the user's GROUP BY columns from the internal string ``group``
    column: split composite keys into one column each, cast every key column
    back to its native type in ``base`` (string when the base is unknown)."""
    from pyspark.sql import functions as F

    native = dict(base.dtypes) if base is not None else {}
    if isinstance(group, (list, tuple)):
        from sketchlib.spark.build import split_group

        df = split_group(df, list(group))
        for c in group:
            df = df.withColumn(c, F.col(c).cast(native.get(c, "string")))
        return df
    return df.withColumn("group", F.col("group").cast(native.get(group, "string"))).withColumnRenamed(
        "group", group
    )


def _with_gkey(s: DataFrame, group) -> tuple[DataFrame, str | None]:
    """(df + derived key column, aggregation column) for a composite GROUP BY;
    single-column / global groups pass through unchanged."""
    if isinstance(group, (list, tuple)):
        from sketchlib.spark.build import group_key_expr

        return s.withColumn("_gkey_sql", group_key_expr(list(group))), "_gkey_sql"
    return s, group


def _finish_grouped(out: DataFrame, base: DataFrame | None, group) -> DataFrame:
    """Shape a sketch-path result for the user: drop the group column when
    ungrouped, split composite keys back into native-typed columns (via
    _ungroup); single-column groups keep the generic ``group`` column."""
    if not group:
        return out.drop("group")
    if isinstance(group, (list, tuple)):
        return _ungroup(out, base, group)
    return out


def _resolve_table(spark: SparkSession, name: str, tables: dict | None) -> DataFrame:
    if tables and name in tables:
        t = tables[name]
        return spark.read.parquet(t) if isinstance(t, str) else t
    if "/" in name:
        return spark.read.parquet(name)
    return spark.table(name)


_CATALOG_KINDS = {
    "APPROX_COUNT_DISTINCT": ("hll", "kmv"),
    "APPROX_TOPK": ("cm",),
    "APPROX_TOP_SUM": ("cm",),
    "APPROX_PERCENTILE": ("kll", "tdigest", "dd"),
    "APPROX_SPECTRUM": ("fd",),
    # mad/trimmed-mean read the state's weighted item view — KLL and
    # t-digest only (a dd state's bound is in different units and its
    # bucket midpoints are not a value coreset)
    "APPROX_MAD": ("kll", "tdigest"),
    "APPROX_TRIMMED_MEAN": ("kll", "tdigest"),
    "APPROX_HISTOGRAM": ("kll", "tdigest"),
    # the DETERMINISTIC heavy hitters: same statement shape as
    # APPROX_TOPK but a different bound CONTRACT (mg undercount
    # certificate vs CM overcount) — two heads so neither can be read
    # with the other's interval
    "APPROX_FREQUENT": ("mg",),
}


def _frequent_args(args: list) -> tuple[int, float | None]:
    """(k, eps or None) from APPROX_FREQUENT(col, k [, eps]) — eps sizes
    the on-the-fly summary (counters = ⌈1/ε⌉−1) and gates routing (only
    registered MG states at least that accurate claim the statement)."""
    if len(args) not in (2, 3):
        raise ValueError(
            "APPROX_FREQUENT takes (col, k [, eps]) — deterministic top-k "
            "heavy hitters from a Misra-Gries summary"
        )
    k = _positive_int("APPROX_FREQUENT", args[1])
    eps = None
    if len(args) == 3:
        eps = _num(args[2])
        if eps is None or not (0.0 < eps < 1.0):
            raise ValueError(
                f"APPROX_FREQUENT eps argument {args[2]!r} must be a number "
                "in (0, 1) — the undercount bound is ≤ ε·N"
            )
    return k, eps


def _mg_spec_serves(fn, args, s: dict) -> bool:
    """Whether a registered MG spec serves this APPROX_FREQUENT statement:
    weighted MGs never serve the plain statement (their certificate is in
    weight units), and an explicit eps routes only to summaries at least
    that accurate (k ≥ ⌈1/ε⌉−1 counters — same explicit-accuracy rule as
    CM's eps)."""
    if fn != "APPROX_FREQUENT":
        return True
    if s["kind"] != "mg":
        return False
    if s.get("weight"):
        return False
    _, eps = _frequent_args(args)
    if eps is not None:
        import math as _math

        need_k = max(1, int(_math.ceil(1.0 / eps)) - 1)
        p = s.get("params", {})
        have_k = p.get("k")
        if have_k is None and p.get("eps") is not None:
            have_k = max(1, int(_math.ceil(1.0 / float(p["eps"]))) - 1)
        return have_k is not None and int(have_k) >= need_k
    return True


def _cm_spec_serves(fn, args, s: dict) -> bool:
    """Whether a registered CM spec can serve this top-k statement.

    APPROX_TOPK routes only to UNWEIGHTED CMs and APPROX_TOP_SUM only to a
    CM whose weight column matches the statement's — cross-serving would
    silently answer a SUM question with occurrence counts (or vice versa).
    An explicit eps argument routes only to states achieving it (the same
    explicit-accuracy rule as COUNT_DISTINCT's rse), so a WITHIN-derived
    eps is honored, not silently loosened."""
    if s["kind"] != "cm":
        return True
    if fn == "APPROX_TOP_SUM":
        if s.get("weight") != (args[1].strip() if len(args) > 1 else None):
            return False
        req_eps = _num(args[3]) if len(args) > 3 else None
    else:
        if s.get("weight"):
            return False
        req_eps = _num(args[2]) if fn == "APPROX_TOPK" and len(args) > 2 else None
    if req_eps is not None:
        return float(s.get("params", {}).get("eps", 1e-4)) <= req_eps * (1 + 1e-9)
    return True


def _pct_spec_serves(fn, args, s: dict) -> bool:
    """Whether a registered quantile spec can serve this percentile
    statement — the bound-semantics analog of ``_cm_spec_serves``: a
    ``rel_err=`` statement (relative VALUE contract) routes only to a
    DDSketch whose alpha achieves it, and a dd state never serves a
    plain/rank-bounded statement (its bound is in different units —
    cross-serving would surface α as a rank error). A WEIGHTED tdigest
    (weight-mass distribution) never serves the quantile-family
    statements implicitly — its CDF is a different distribution than the
    row population every plain statement asks about (the same
    no-cross-serving rule weighted CMs follow); a ``weight=`` statement
    routes ONLY to a tdigest whose registered weight column matches."""
    if fn in ("APPROX_MAD", "APPROX_TRIMMED_MEAN", "APPROX_HISTOGRAM"):
        return not s.get("weight")
    if fn != "APPROX_PERCENTILE":
        return True
    want_w = _pct_weight(args)
    if (s.get("weight") or None) != want_w:
        return False
    if want_w is not None:
        return s["kind"] == "tdigest"
    rel = _percentile_args(args)[2]
    if rel is not None:
        return s["kind"] == "dd" and float(
            s.get("params", {}).get("alpha", 1.0)
        ) <= rel * (1 + 1e-9)
    return s["kind"] != "dd"


def _positive_int(fn: str, a: str) -> int:
    """The k argument of a top-k sketch aggregate, validated."""
    v = _num(a)
    if v is None or not v.is_integer() or v < 1:
        raise ValueError(f"{fn} k argument {a!r} must be a positive integer")
    return int(v)


def _rse_args(args: list) -> float | None:
    """rse (None when not given) from APPROX_COUNT_DISTINCT(col [, rse])."""
    if len(args) not in (1, 2):
        raise ValueError(
            "APPROX_COUNT_DISTINCT takes (col [, rse]) — rse is the target "
            "relative standard error, e.g. APPROX_COUNT_DISTINCT(doc_id, 0.01)"
        )
    if len(args) == 1:
        return None
    r = _num(args[1])
    if r is None or not (0 < r < 1):
        raise ValueError(
            f"APPROX_COUNT_DISTINCT second argument {args[1]!r} must be "
            "a target relative standard error in (0, 1)"
        )
    return r


def _topk_args(args: list) -> tuple[int, float | None]:
    """(k, eps or None) from APPROX_TOPK(col, k [, eps])."""
    if len(args) not in (2, 3):
        raise ValueError(
            "APPROX_TOPK takes (col, k [, eps]) — top-k heavy hitters from a "
            "Count-Min sketch, e.g. APPROX_TOPK(tokens, 10)"
        )
    k = _positive_int("APPROX_TOPK", args[1])
    eps = None
    if len(args) == 3:
        eps = _num(args[2])
        if eps is None:
            raise ValueError(f"APPROX_TOPK eps argument {args[2]!r} must be numeric")
    return k, eps


def _top_sum_args(args: list) -> tuple[int, float | None]:
    """(k, eps or None) from APPROX_TOP_SUM(key, weight, k [, eps])."""
    if len(args) not in (3, 4):
        raise ValueError(
            "APPROX_TOP_SUM takes (key, weight, k [, eps]) — e.g. "
            "APPROX_TOP_SUM(l_orderkey, l_quantity, 10)"
        )
    k = _positive_int("APPROX_TOP_SUM", args[2])
    eps = None
    if len(args) == 4:
        eps = _num(args[3])
        if eps is None:
            raise ValueError(
                f"APPROX_TOP_SUM eps argument {args[3]!r} must be numeric"
            )
    return k, eps


# each sketch aggregate's argument parser: validates and returns the parsed
# arguments. With _CATALOG_KINDS this is the one declaration every route
# reads — on-the-fly (_sketch_spec), registered states (_serving_spec),
# ROLLUP/CUBE and the UNION ALL merge.
_SKETCH_ARGS = {
    "APPROX_COUNT_DISTINCT": _rse_args,
    "APPROX_TOPK": _topk_args,
    "APPROX_TOP_SUM": _top_sum_args,
    "APPROX_PERCENTILE": _percentile_args,
    "APPROX_SPECTRUM": _spectrum_args,
    "APPROX_MAD": _mad_args,
    "APPROX_TRIMMED_MEAN": _trim_args,
    "APPROX_HISTOGRAM": _hist_args,
    "APPROX_FREQUENT": _frequent_args,
}


def _sketch_args(fn: str, args: list):
    """Validated, parsed arguments of sketch aggregate ``fn``."""
    if not args:
        raise ValueError(f"{fn} takes the column to sketch as its first argument")
    return _SKETCH_ARGS[fn](args)


def _spec_serves(fn: str, args: list, s: dict) -> bool:
    """Whether registered spec ``s`` can answer ``fn(args)``: a serving
    kind on the statement's column, and the per-family rules (weights,
    eps, alpha, d/ell) of the ``_*_spec_serves`` predicates."""
    return (
        s["kind"] in _CATALOG_KINDS[fn] and args[:1] == [s["column"]]
        and _cm_spec_serves(fn, args, s) and _mg_spec_serves(fn, args, s)
        and _pct_spec_serves(fn, args, s) and _fd_spec_serves(fn, args, s)
    )


def _accuracy_gap(fn: str, args: list, s: dict) -> str | None:
    """None when serving spec ``s`` achieves the statement's explicit
    accuracy argument (COUNT_DISTINCT's rse — HLL 1.04/√2ᵖ, KMV 1/√(k−2),
    the bound the sketch itself reports; PERCENTILE's rank_err — only a
    KLL with ε(k) ≈ 3.31/k promises it statically, t-digest has no closed
    bound), else what ``s`` achieves instead. Registered states never
    answer below the accuracy a statement asks for."""
    p = s.get("params", {})
    if fn == "APPROX_COUNT_DISTINCT":
        req = _rse_args(args)
        if req is None:
            return None
        knob = "p" if s["kind"] == "hll" else "k"
        v = float(p.get(knob, 14 if knob == "p" else 1024))
        if s["kind"] == "hll":
            got = 1.04 / (2.0 ** v) ** 0.5
        else:
            got = 1.0 / (v - 2) ** 0.5 if v > 2 else float("inf")
        if got <= req * (1 + 1e-9):
            return None
        return (f"rse={req} — its {s['kind']} sketch on {s['column']!r} has "
                f"{knob}={int(v)} (rse≈{got:.4f}); rebuild with a larger {knob}")
    if fn == "APPROX_PERCENTILE":
        req = _percentile_args(args)[1]
        if req is None:
            return None
        k = float(p.get("k", 0))
        if s["kind"] == "kll" and k > 0 and 3.31 / k <= req * (1 + 1e-9):
            return None
        return (f"rank_err={req} — its {s['kind']} sketch on {s['column']!r} "
                + (f"has k={int(k)} (ε≈{3.31 / k:.4f})" if k else "carries no k")
                + "; rebuild with a larger k")
    return None


# states are pre-reduced: a statement's predicate cannot reach their rows
_STATES_WHERE_MSG = (
    "sketch states were built over the unfiltered table — WHERE cannot be "
    "applied post-hoc to pre-reduced states; use a persisted SAMPLE "
    "(create_sample) for filterable approx scans, rebuild states with the "
    "filter, or drop catalog_key"
)


_MULTI_KEY_MSG = (
    "multi-aggregate statements can't take catalog_key — issue one "
    "statement per aggregate to answer from persisted states, or pass "
    "catalog alone for per-aggregate auto-selection"
)


def _registration(reg_rows, key: str):
    """The registry row of sketch set ``key`` among ``reg_rows``."""
    reg = next((r for r in reg_rows if r["name"] == key), None)
    if reg is None:
        raise ValueError(f"catalog has no sketch set or sample {key!r}")
    return reg


def _serving_spec(reg, fn: str, args: list, key: str) -> dict:
    """The spec of registered sketch set ``reg`` (a registry row) that
    answers ``fn(args)`` — the one selection the catalog and ROLLUP/CUBE
    routes share: arguments validated, a spec that serves the statement
    (``_spec_serves``) and achieves its explicit accuracy (``_accuracy_gap``),
    else ValueError naming what is missing."""
    import json

    kinds = _CATALOG_KINDS.get(fn)
    if kinds is None:
        raise ValueError(f"{fn} cannot be answered from persisted sketch states")
    _sketch_args(fn, args)
    serving = [s for s in json.loads(reg["specs_json"]) if _spec_serves(fn, args, s)]
    if not serving:
        raise ValueError(
            f"sketch set {key!r} holds no {'/'.join(kinds)} sketch on "
            f"{args[0]!r} serving {fn}"
            + (" (weighted CMs serve APPROX_TOP_SUM with a matching weight "
               "column; unweighted CMs serve APPROX_TOPK; an explicit eps "
               "routes only to states achieving it)"
               if fn in ("APPROX_TOPK", "APPROX_TOP_SUM") else "")
        )
    for s in serving:
        if _accuracy_gap(fn, args, s) is None:
            return s
    raise ValueError(
        f"sketch set {key!r} cannot achieve "
        f"{_accuracy_gap(fn, args, serving[0])} or drop catalog_key"
    )


def _keyed_states_spec(reg, key, fn, args, group, where, estimator) -> dict:
    """The serving spec of sketch set ``reg`` named by an explicit
    ``catalog_key`` for a plain (non-ROLLUP) statement, after the refusals
    such a key can meet. Auto-resolution never picks states under WHERE or
    ERROR BY SUBSAMPLING; an explicit key can name them anyway."""
    if estimator == "subsample":
        # states hold no rows to subsample, and answering with the sketch's
        # own bound would be the silent closed-form fallback the modifier
        # forbids
        raise ValueError(
            f"{key!r} is a sketch-states set — ERROR BY SUBSAMPLING needs "
            "Bernoulli(p) ROWS (a uniform scramble); name a sample or drop "
            "catalog_key for auto-selection"
        )
    if where:
        raise ValueError(_STATES_WHERE_MSG)
    if _canon_group(group) != reg["group_by"]:
        raise ValueError(
            f"statement GROUP BY {group!r} != registered group_by "
            f"{reg['group_by']!r} for {key!r}"
        )
    return _serving_spec(reg, fn, args, key)


def _sketch_spec(df: DataFrame, fn: str, args: list) -> tuple[DataFrame, SketchSpec]:
    """The on-the-fly build of sketch aggregate ``fn(args)`` (plain and
    ROLLUP/CUBE routes): ``df`` with the aggregate's expression columns
    materialized, and the one SketchSpec ``_q`` to build, sized from the
    statement's own accuracy arguments."""
    parsed = _sketch_args(fn, args)
    df, col = _materialize_expr(df, args[0])
    if fn == "APPROX_COUNT_DISTINCT":
        return df, SketchSpec("_q", "hll", col, {"p": hll_params(parsed or 0.01)["p"]})
    if fn in ("APPROX_TOPK", "APPROX_TOP_SUM"):
        # TOP_SUM: heavy hitters BY SUM — one weighted-CM build, top-k
        # re-estimated from the merged state without a key-wide groupBy
        wcol = None
        if fn == "APPROX_TOP_SUM":
            df, wcol = _materialize_expr(df, args[1])
        eps = 1e-4 if parsed[1] is None else parsed[1]
        return df, SketchSpec("_q", "cm", col, {"eps": eps, "delta": 0.01}, weight=wcol)
    if fn == "APPROX_FREQUENT":
        # deterministic heavy hitters: the answer's undercount_bound is the
        # summary's exactly tracked decrement (no δ to carve out)
        return df, SketchSpec("_q", "mg", col, {"eps": parsed[1] or 1e-4})
    if fn == "APPROX_SPECTRUM":
        _, d, ell = parsed
        if d is None:
            # infer the dimension from the data (one-row probe); an
            # explicitly-given d is trusted — the sketch's whole-rows guard
            # catches a ragged column either way
            from pyspark.sql import functions as F

            probe = df.select(F.size(F.col(col)).alias("_d")).first()
            if probe is None or probe["_d"] is None or probe["_d"] < 1:
                raise ValueError(
                    f"APPROX_SPECTRUM could not infer the vector dimension "
                    f"from {col!r} — pass d=<dim> explicitly"
                )
            d = int(probe["_d"])
        return df, SketchSpec("_q", "fd", col, {"d": d, "ell": ell})
    if fn != "APPROX_PERCENTILE":  # MAD / TRIMMED_MEAN / HISTOGRAM
        return df, SketchSpec("_q", "kll", col, {"k": _robust_kll_k(fn, args)})
    _, rank, rel = parsed
    wcol = _pct_weight(args)
    if wcol is not None:
        # weight-mass quantiles: fractional centroid weights are native to
        # the t-digest, which filters NaN pairs jointly
        return df, SketchSpec("_q", "tdigest", col, {"compression": 200}, weight=wcol)
    if rel is not None:
        # relative-VALUE contract: α IS the bound (Masson et al. 2019)
        return df, SketchSpec("_q", "dd", col, {"alpha": rel})
    # rank-error contract: invert the calibrated KLL bound ε(k) ≈ 3.31/k
    k = 200 if rank is None else max(200, kll_params(rank)["k"])
    return df, SketchSpec("_q", "kll", col, {"k": k})


def _sketch_answer(spark, fn: str, args: list, states, name: str, kind: str,
                   rows=None) -> DataFrame:
    """The answer frame of sketch aggregate ``fn(args)`` from sketch
    ``name`` (of state ``kind``) in ``states``, or from driver-read state
    ``rows`` — one dispatch for the on-the-fly, catalog, ROLLUP/CUBE and
    UNION ALL merge routes. A ``dd`` state answers percentiles with its
    relative-value bound; TOP_SUM's estimate is a weight sum."""
    if fn == "APPROX_COUNT_DISTINCT":
        return estimates_df(spark, states, name, rows=rows)
    if fn in ("APPROX_TOPK", "APPROX_TOP_SUM"):
        out = topk_df(spark, states, name, _SKETCH_ARGS[fn](args)[0], rows=rows)
        # a weighted CM's counts are weight sums
        return out.withColumnRenamed("est_count", "est_sum") if fn == "APPROX_TOP_SUM" else out
    if fn == "APPROX_FREQUENT":
        return mg_topk_df(spark, states, name, _frequent_args(args)[0], rows=rows)
    if fn == "APPROX_SPECTRUM":
        return spectrum_df(spark, states, name, _spectrum_args(args)[0], rows=rows)
    if fn == "APPROX_MAD":
        return mad_df(spark, states, name, rows=rows)
    if fn == "APPROX_TRIMMED_MEAN":
        return trimmed_mean_df(spark, states, name, *_trim_args(args), rows=rows)
    if fn == "APPROX_HISTOGRAM":
        return equidepth_histogram_df(spark, states, name, _hist_args(args), rows=rows)
    answer = rel_quantiles_df if kind == "dd" else quantiles_df
    return answer(spark, states, name, _percentile_args(args)[0], rows=rows)


def _table_dir(table_token: str, tables: dict | None) -> str | None:
    """The FROM token's storage identity (a parquet dir), or None when the
    token is a view/DataFrame whose lineage we can't match to registrations."""
    if tables and table_token in tables and isinstance(tables[table_token], str):
        return tables[table_token]
    if "/" in table_token:
        return table_token
    return None


def _resolve_key(
    fn, args, group, has_where, table_token, tables, regs, uniform_samples_only=False,
) -> str | None:
    """Verdict's sample-selection step (SampleManager choosing the best
    registered sample for a query — the user never names one): pick the
    best catalog artifact that can answer (fn, col, group, where) over the
    FROM table, or None to fall back to an on-the-fly build.

    ``uniform_samples_only`` is the ERROR BY SUBSAMPLING mode: the
    variational-subsampling estimator needs Bernoulli(p) ROWS at one shared
    inclusion probability, so sketch states (pre-reduced, no rows) and
    stratified scrambles (mixed fractions) are both ineligible.

    Ranking:
    1. persisted SKETCH STATES — pre-reduced KBs, corpus-independent query
       latency — when eligible (no WHERE, exact GROUP BY match: states were
       built unfiltered at one grouping);
    2. persisted SAMPLES (scrambles) — row/domain subsets, so WHERE commutes
       with the sampling and any grouping works. A stratified sample keyed
       on the GROUP BY column beats uniform (per-group variance control,
       Verdict's own preference for grouped aggregates); remaining ties go
       to the LARGEST ratio (lowest error), then name for determinism.

    An EXPLICIT accuracy argument in the statement is honored, not silently
    dropped: APPROX_COUNT_DISTINCT(col, rse) only routes to sketch states
    whose parameters achieve that rse (HLL: 1.04/√2ᵖ; KMV: 1/√(k−2)) and
    skips universe scrambles (their achieved rse depends on the unknown
    distinct count, so a static guarantee is impossible); the sampling
    aggregates' ratio argument only routes to uniform samples of ≥ that
    ratio. When nothing registered can achieve the request, the resolver
    returns None and the on-the-fly build honors it exactly. Stratified
    samples stay exempt from the ratio test — they are chosen for
    per-group variance control, and their per-stratum fractions aren't
    comparable to a single uniform ratio. Statements WITHOUT an explicit
    accuracy argument route to any fitting artifact (the registered
    artifact's own error columns stay honest either way).
    """
    import json
    import os

    base = _table_dir(table_token, tables)
    if base is None:
        return None
    base_n = os.path.normpath(base)
    col = args[0] if args else None

    req_rse = _num(args[1]) if fn == "APPROX_COUNT_DISTINCT" and len(args) > 1 else None
    req_rank = req_rel = None
    if fn == "APPROX_PERCENTILE":
        _, req_rank, req_rel = _percentile_args(args)
    if fn == "APPROX_COUNT" and args:
        req_ratio = _num(args[0])
    elif fn in ("APPROX_SUM", "APPROX_AVG", "APPROX_VARIANCE", "APPROX_STDDEV") and len(args) > 1:
        req_ratio = _num(args[1])
    elif fn in ("APPROX_COVAR", "APPROX_CORR") and len(args) > 2:
        req_ratio = _num(args[2])
    else:
        req_ratio = None

    if fn in _CATALOG_KINDS and not has_where and not uniform_samples_only:
        want_group = _canon_group(group)
        # newest registration first, name as tie-break — deterministic when
        # several sets hold the same sketch
        for reg in sorted(regs.list_rows(), key=lambda r: (-r["built_unix"], r["name"])):
            if os.path.normpath(reg["input_dir"]) != base_n or reg["group_by"] != want_group:
                continue
            if any(
                _spec_serves(fn, args, s) and _accuracy_gap(fn, args, s) is None
                for s in json.loads(reg["specs_json"])
            ):
                return reg["name"]

    def eligible(r) -> bool:
        k = r["kind"]
        if uniform_samples_only and k != (
            "universe" if fn == "APPROX_COUNT_DISTINCT" else "uniform"
        ):
            return False
        if fn in ("APPROX_COUNT", "APPROX_SUM", "APPROX_AVG"):
            # stratified serves global statements (cross-strata ratio
            # estimator) and statements grouped exactly on its key column
            if k == "uniform":
                return req_ratio is None or float(r["ratio"] or 0.0) >= req_ratio - 1e-12
            return k == "stratified" and (group is None or group == r["on_col"])
        if fn in ("APPROX_VARIANCE", "APPROX_STDDEV", "APPROX_COVAR", "APPROX_CORR"):
            # uniform only: the moment estimators assume ONE shared inclusion
            # probability; a stratified scramble's mixed fractions would bias
            # the pooled second/fourth (or cross) moments
            return k == "uniform" and (
                req_ratio is None or float(r["ratio"] or 0.0) >= req_ratio - 1e-12
            )
        if fn == "APPROX_COUNT_DISTINCT":
            return k == "universe" and r["on_col"] == col and req_rse is None
        if fn == "APPROX_PERCENTILE":
            # an accuracy contract needs a static guarantee — only KLL
            # (rank_err) / DDSketch (rel_err) STATES give one; scrambles'
            # empirical-quantile error depends on the (unknown-ahead)
            # sample row count. A weight= statement asks about the
            # weight-mass distribution — only a weighted tdigest holds it.
            if req_rank is not None or req_rel is not None or _pct_weight(args) is not None:
                return False
            return k == "uniform" or (k == "stratified" and group == r["on_col"])
        return False

    ok = [r for r in regs.list_sample_rows()
          if os.path.normpath(r["input_dir"]) == base_n and eligible(r)]
    if not ok:
        return None

    def rank(r):
        strat_on_group = r["kind"] == "stratified" and group is not None and group == r["on_col"]
        return (1 if strat_on_group else 0, float(r["ratio"] or 0.0), r["name"])

    return max(ok, key=rank)["name"]


def resolve_catalog_key(
    spark: SparkSession, sql: str, tables: dict | None = None, catalog=None
) -> str | None:
    """Which catalog artifact would ``approx_sql`` auto-select for this
    statement? None = no registered artifact fits (the statement would run
    as an on-the-fly build over the base table, or is refused).
    Single-aggregate statements only; ORDER BY/LIMIT/HAVING tails are
    ignored for routing."""
    if catalog is None:
        return None
    p = _plan(spark, sql, tables, catalog, None, "clt")
    while p.refusal is None and p.route in ("ORDER BY", "LIMIT", "HAVING", "aliased"):
        p = p.nested
    return p.key if p.kind == "approx_single" and p.refusal is None else None


_EXPLAIN_SCHEMA = "property string, value string"


_PCT_WEIGHT_SAMPLE_MSG = (
    "weighted percentile (weight=) serves from a weighted tdigest's states, "
    "not a row sample — register tdigest(col, weight=w) or drop catalog_key"
)

# the sampling aggregates: a Bernoulli sample at a ratio argument, or a scramble
# the sampling aggregates and their kernels' (estimate, bound) columns
_SAMPLING_COLS = {
    "APPROX_COUNT": ("est_count", "count_err"),
    "APPROX_SUM": ("est_sum", "sum_err"),
    "APPROX_AVG": ("est_avg", "avg_err"),
    "APPROX_VARIANCE": ("est_variance", "variance_err"),
    "APPROX_STDDEV": ("est_stddev", "stddev_err"),
    "APPROX_COVAR": ("est_covar", "covar_err"),
    "APPROX_CORR": ("est_corr", "corr_err"),
}
_SAMPLING_FNS = tuple(_SAMPLING_COLS)
# aggregates that compose in one multi-aggregate statement (one output
# column pair each); the rest return several rows per group
_SCALAR_AGGS = ("APPROX_COUNT_DISTINCT",) + _SAMPLING_FNS
_TAIL_ROUTES = (("ORDER BY", _ORDER_TAIL), ("LIMIT", _LIMIT_TAIL), ("HAVING", _HAVING_TAIL))


def _tail_match(sql: str):
    """(route, match) of the statement's outermost ORDER BY / LIMIT /
    HAVING tail, or None."""
    for route, tail_re in _TAIL_ROUTES:
        tm = tail_re.match(sql)
        if tm:
            return route, tm
    return None


def _sample_refusal(fn, args, meta, group, estimator, key) -> str | None:
    """Why persisted sample ``key`` (registry row ``meta``) cannot serve
    ``fn(args)`` under ``group`` and ``estimator`` — the message
    ``approx_sql`` raises — or None when it serves. Auto-selection only
    picks samples that serve; an explicit catalog_key can name any."""
    k, on = meta["kind"], meta["on_col"]
    if fn == "APPROX_COUNT_DISTINCT":
        if k != "universe" or on != args[0]:
            return (f"APPROX_COUNT_DISTINCT({args[0]}) needs a universe sample on "
                    f"{args[0]!r}; {key!r} is {k} on {on!r}")
        return None
    if fn in ("APPROX_VARIANCE", "APPROX_STDDEV", "APPROX_COVAR", "APPROX_CORR"):
        if k != "uniform":
            return (f"{fn} needs a UNIFORM sample (one shared inclusion "
                    "probability — mixed stratified fractions would bias the "
                    f"pooled moments); {key!r} is {k}")
        return None
    if fn not in ("APPROX_COUNT", "APPROX_SUM", "APPROX_AVG", "APPROX_PERCENTILE"):
        return f"{fn} cannot be answered from a persisted sample table"
    if fn == "APPROX_PERCENTILE" and _pct_weight(args) is not None:
        return _PCT_WEIGHT_SAMPLE_MSG
    if k not in ("uniform", "stratified"):
        return f"{fn} needs a uniform or stratified sample; {key!r} is {k}"
    if fn == "APPROX_PERCENTILE":
        if k == "stratified" and group != on:
            return (f"stratified sample {key!r} is keyed by {on!r}; GROUP BY "
                    "must match (per-group quantiles across mixed-fraction "
                    "strata would be biased)")
        if _percentile_args(args)[1:] != (None, None):
            return ("a rank_err/rel_err contract cannot be served from a "
                    "scramble — the empirical quantile's error depends on the "
                    "sample's row count, so no static guarantee exists; route "
                    "to KLL/DDSketch states (drop catalog_key for "
                    "auto-selection) or drop the contract")
        if estimator == "subsample" and k != "uniform":
            return ("ERROR BY SUBSAMPLING needs a UNIFORM scramble for "
                    f"APPROX_PERCENTILE; {key!r} is {k}")
        return None
    if estimator == "subsample" and k != "uniform":
        return ("ERROR BY SUBSAMPLING needs a UNIFORM scramble (one shared "
                "Bernoulli inclusion probability — a stratified sample's mixed "
                f"fractions break the subsample geometry); {key!r} is {k}")
    if k == "stratified" and group is not None and group != on:
        return f"stratified sample {key!r} is keyed by {on!r}; GROUP BY must match"
    return None


@dataclass(frozen=True)
class Plan:
    """One approx statement, classified once by ``_plan``: ``approx_sql``
    executes the route it names and ``explain_sql`` renders it, so the two
    cannot disagree. Building a plan builds nothing and registers no temp
    view; the only frames it holds are a set operation's lazily resolved
    sides (or their samples), which execution reuses."""

    kind: str                       # EXPLAIN's statement_kind
    route: str = ""                 # what execution runs; "" = refused before routing
    estimator: str = "clt"
    key: str | None = None          # the artifact named or auto-selected
    sql: str = ""                   # the statement text this node answers
    aggs: tuple = ()                # ((fn, args), ...) of the select list
    group: object = None            # the parsed GROUP BY
    m: object = None                # the route's parse: skeleton/join/tail match, route tuple
    detail: object = None           # what the route resolved: spec, picks, keys, ...
    nested: Plan | None = None      # CTE final, derived outer, WITHIN rewrite, tail or alias body
    notes: tuple = ()               # EXPLAIN's (property, value) description rows
    refusal: str | None = None      # the ValueError message execution raises


class _Registries:
    """The catalog registry rows one statement's plan consults, each list
    read at most once however many aggregates or nested statements ask.
    It answers the catalog's own ``list_rows``/``list_sample_rows``, so the
    resolvers that take a catalog take it too."""

    def __init__(self, catalog):
        self.catalog, self._rows = catalog, {}

    def _read(self, which: str) -> list:
        if which not in self._rows:
            self._rows[which] = [] if self.catalog is None else getattr(self.catalog, which)()
        return self._rows[which]

    def list_rows(self) -> list:
        return self._read("list_rows")

    def list_sample_rows(self) -> list:
        return self._read("list_sample_rows")


def _side_states(resolve, head_fn, sides, args, grouped, tables, catalog, regs):
    """``resolve``'s per-side registrations (set operation or UNION ALL
    merge); a grouped statement needs the sides' (value, key) identifiers
    first. None → no registered states serve."""
    if catalog is None:
        return None
    idents = (None, None) if grouped is None else _setop_side_idents(sides, grouped)
    return None if idents is None else resolve(
        head_fn, sides, args, tables, catalog, reg_rows=regs.list_rows(),
        cols=idents[0], group_cols=idents[1],
    )


def _multi_agg_keys(aggs, group, where, table_token, tables, regs) -> list | None:
    """The artifact serving each aggregate of a multi-aggregate statement,
    or None → the single-scan on-the-fly build. Routes only when EVERY
    aggregate resolves: partial routing would still scan the base table.

    Mixed sources join state-derived group keys (kernel Python str()) with
    sample-derived keys (Catalyst cast); the two agree for string/integer
    group columns but NOT for booleans, big doubles or timestamps ('True'
    vs 'true', '1e+20' vs '1.0E20'), so a mix over any other group dtype
    (read from the sample table's parquet footer) builds on the fly instead."""
    keys = []
    for fn, args in aggs:
        k = _resolve_key(fn, args, group, bool(where), table_token, tables, regs)
        if k is None:
            return None
        keys.append(k)
    state_names = {r["name"] for r in regs.list_rows()} if group else set()
    if {k in state_names for k in keys} == {True, False}:
        sample_key = next(k for k in keys if k not in state_names)
        dtypes = regs.catalog.sample_dtypes(sample_key)
        gcols = list(group) if isinstance(group, (list, tuple)) else [group]
        if any(dtypes.get(c) not in ("string", "int", "bigint", "smallint", "tinyint")
               for c in gcols):
            return None
    return keys


def _plan(spark, sql, tables, catalog, catalog_key, estimator, regs=None,
          ctes=frozenset()) -> Plan:
    """Classify one statement into the Plan ``approx_sql`` executes and
    ``explain_sql`` renders — the statement's only classifier. Checks run
    in execution's order. A statement execution refuses gets a plan whose
    ``refusal`` is the message raised; its ``route`` is set when the route
    chosen refused (an artifact that cannot serve), empty when the
    statement's shape or arguments did. Sub-statements — CTE final,
    derived-table outer, WITHIN rewrite, tail and alias bodies — are
    nested plans sharing one registry read. ``spark`` only resolves
    schemas for the set-operation type gates; nothing runs. ``ctes``: the
    lower-cased names of the enclosing CTEs, whose views do not exist yet."""
    from statistics import NormalDist

    regs = regs or _Registries(catalog)
    notes: list[tuple[str, str]] = []

    def note(k, v) -> None:
        notes.append((k, str(v)))

    def mk(kind, route="", refusal=None, **kw) -> Plan:
        return Plan(kind, route, estimator, notes=tuple(notes), refusal=refusal, **kw)

    def sub(stmt, key=catalog_key, ctes=ctes) -> Plan:
        return _plan(spark, stmt, tables, catalog, key, estimator, regs, ctes)

    # EXPLAIN over OUR statements (any APPROX_ aggregate, registry DDL, or
    # an ERROR BY SUBSAMPLING tail, whose refusal EXPLAIN must report);
    # an exact EXPLAIN is Spark's own statement and passes through (A4)
    em = re.match(r"^\s*EXPLAIN\s+(?P<stmt>.*)$", sql, re.IGNORECASE | re.DOTALL)
    if em and (_AGG.search(_mask_literals(em.group("stmt")))
               or _DDL_HEAD.match(em.group("stmt"))
               or _SUBSAMPLE_TAIL.match(_mask_literals(em.group("stmt")))):
        return mk("explain", "explain", nested=sub(em.group("stmt").strip()))
    if catalog is None and catalog_key is not None:
        return mk("invalid_arguments", refusal=(
            "catalog_key without catalog does nothing — pass catalog=SketchCatalog(...)"))
    if _DDL_HEAD.match(sql):
        note("backend", "SketchCatalog registry")
        return mk("ddl", "ddl", sql=sql)
    if estimator not in ("clt", "subsample"):
        return mk("invalid_arguments", refusal=(
            f"estimator must be 'clt' or 'subsample', got {estimator!r}"))
    ssm = _SUBSAMPLE_TAIL.match(_mask_literals(sql)) and _SUBSAMPLE_TAIL.match(sql)
    if ssm:
        sql, estimator = ssm.group("body"), "subsample"
        if _WITHIN_STUB.search(_mask_literals(sql)):
            # 'WITHIN 1% ERROR BY SUBSAMPLING' — the tail ate the
            # contract's ERROR keyword; refuse by name
            return mk("accuracy_contract", refusal=_WITHIN_SUBSAMPLE_MSG)
    # classification ignores string literals: 'APPROX_X(1)' inside quotes
    # must not drag an exact statement into the approx skeleton
    if not _AGG.search(_mask_literals(sql)):
        if estimator == "subsample":
            return mk("exact_passthrough", refusal=(
                "ERROR BY SUBSAMPLING selects the error estimator of an approx "
                "statement — this statement has no APPROX_ aggregate (exact "
                "pass-through carries no error columns)"))
        # Verdict's pass-through: exact SQL goes to the backend untouched
        # (A4) — including plain WITH statements, which Spark parses natively
        note("backend", "spark.sql verbatim (A4)")
        return mk("exact_passthrough", "exact", sql=sql)

    cte = _extract_ctes(sql)
    if cte is not None:
        defs, final = cte
        note("cte_names", ",".join(n for n, _ in defs))
        note("cte_bodies", ",".join(
            "approx" if _AGG.search(_mask_literals(b)) else "exact" for _, b in defs))
        clash = next((n for n, _ in defs if tables and n in tables), None)
        if clash is not None:
            # the dict is authoritative in every resolution path, so the CTE
            # would be silently shadowed — estimates over the wrong relation
            # with no error is the worst failure shape
            return mk("cte", refusal=(
                f"CTE name {clash!r} collides with a `tables` binding — the "
                "dict is authoritative in table resolution, so the CTE would "
                "be silently shadowed; rename the CTE"))
        note("final_statement", "see nested properties below")
        return mk("cte", "cte", key=catalog_key, m=(tuple(defs), final), detail=regs,
                  nested=sub(final, ctes=ctes | {n.lower() for n, _ in defs}))

    derived = _extract_subquery(sql)
    if derived is not None:
        # extracted BEFORE tail peeling, so an inner HAVING/ORDER BY/LIMIT
        # stays inside the subquery
        head, inner, tail = derived
        if catalog_key is not None:
            return mk("derived_table", refusal=(
                "catalog_key cannot answer a derived-table statement — the "
                "registered artifact was built over the BASE table, not the "
                "subquery's filtered/derived rows; drop catalog_key to "
                "compute over the derived table"))
        setop = _setop_route(head, inner, tail)
        if setop is not None:
            op, sides, args, _alias, grouped = setop
            if estimator == "subsample":
                return mk("approx_setop", "setop", refusal=(
                    "set operations are answered from sketch states, whose "
                    "bounds are not sampling CIs — ERROR BY SUBSAMPLING applies "
                    "to the sampling aggregates (single table or UNION ALL over "
                    "persisted uniform samples)"))
            picks = _side_states(_resolve_setop_states, op, sides, args, grouped,
                                 tables, catalog, regs)
            # without states a grouped UNION belongs to the UNION → UNION ALL
            # rewrite below, and sides typed outside one numeric family to
            # the generic path, where Spark SQL's own coercion applies. A
            # side reading a CTE has no schema until the CTE's view exists:
            # its gate runs when the CTE re-plans this statement (_run_cte)
            bases = cte_side = None
            if picks is None and not (grouped is not None and op == "union"):
                cte_side = next((sm.group("table") for sm in sides
                                 if sm.group("table").lower() in ctes), None)
                if cte_side is None:
                    bases = [_resolve_table(spark, sm.group("table"), tables) for sm in sides]
            if picks is not None or cte_side is not None or (
                bases is not None
                and _side_frames(spark, bases, sides, grouped, tables, apply_where=False)
                is not None
            ):
                note("set_operation", op)
                note("n_sides", len(sides))
                if grouped is not None:
                    note("group_by", grouped[0])
                note("sketches", "hll (state merge IS set union)" if op == "union"
                     else "hll + minhash (J·|A ∪ B| composition)")
                if picks is not None:
                    note("artifacts", ", ".join(p["reg"] for p in picks))
                    note("route", "ANSWERED FROM PERSISTED STATES — per-side "
                         "registered sketch sets merged; the base tables are "
                         "never scanned (A5 extended to set operations)")
                else:
                    note("route", ("per-(side × group) sketch build in one pass, "
                                   "per-group state merge" if grouped is not None
                                   else "per-side sketch build in one pass")
                         + " — the sides are never distinct-shuffled or materialized")
                if cte_side is not None:
                    note("type_gate", f"at execution over CTE {cte_side!r} — sides typed "
                         "outside one numeric family take the derived-table path")
                return mk("approx_setop", "setop", m=setop, detail=(picks, bases))
        merged = None if estimator == "subsample" else _unionall_merge_route(head, inner, tail)
        mpicks = merged and _side_states(_resolve_merge_states, merged[0], merged[2],
                                         merged[1], merged[4], tables, catalog, regs)
        if mpicks:
            mfn, _args, msides, malias, mgrouped = merged
            if malias and mfn == "APPROX_HISTOGRAM":
                return mk("approx_unionall_merge", refusal=_HIST_ALIAS_MSG)
            note("aggregate", mfn)
            note("n_sides", len(msides))
            if mgrouped is not None:
                note("group_by", mgrouped[0])
            note("sketches", mpicks[0]["spec"]["kind"])
            note("artifacts", ", ".join(p["reg"] for p in mpicks))
            note("route", "ANSWERED FROM PERSISTED STATES — the sides' registered "
                 "sketches MERGE into the UNION ALL bag's sketch; the base "
                 "tables are never scanned")
            return mk("approx_unionall_merge", "unionall_merge", m=merged, detail=mpicks)
        sroute = _unionall_sample_route(head, inner, tail)
        spicks = sroute and _resolve_unionall_samples(
            sroute[0], sroute[2], sroute[1], tables, catalog,
            sample_rows=regs.list_sample_rows() if catalog is not None else None,
        )
        samples = spicks and [catalog.sample(p["name"]) for p in spicks]
        if spicks and _side_frames(
            spark, samples, sroute[2], sroute[4], tables, apply_where=False,
            count=sroute[0] == "APPROX_COUNT",
        ) is not None:
            sfn, _args, ssides, _alias, sgrouped = sroute
            note("aggregate", sfn)
            note("n_sides", len(ssides))
            if sgrouped is not None:
                note("group_by", sgrouped[0])
            note("ratio", spicks[0]["ratio"])
            note("artifacts", ", ".join(p["name"] for p in spicks))
            note("route", "ANSWERED FROM PERSISTED SAMPLES — equal-ratio uniform "
                 "scrambles of the sides concatenate into one "
                 f"Bernoulli({spicks[0]['ratio']}) sample of the UNION ALL bag; "
                 "only the p-fraction tables are scanned")
            return mk("approx_unionall_sample", "unionall_sample", m=sroute,
                      detail=(spicks, samples))
        # the generic path: the derived table becomes a per-statement temp
        # view the rewritten outer statement reads
        note("inner_statement", "approx (inner error caveat/composition applies)"
             if _AGG.search(_mask_literals(inner)) else "exact")
        rewritten = _union_all_rewrite(head, inner)
        if rewritten is not None:
            inner = rewritten  # distinct shuffle elided; answer identical
            note("union_rewrite", "UNION → UNION ALL (duplicate-insensitive "
                 "aggregates; the distinct shuffle is elided)")
        view = f"_approx_subquery_{next(_SUBQUERY_IDS)}"
        return mk("derived_table", "derived", m=(head, inner, tail, view),
                  nested=sub(f"{head} FROM {view}{tail}", key=None))

    # accuracy contract — after the derived-table branch, so a derived-table
    # WITHIN statement applies the contract over the view
    wm = _WITHIN_TAIL.match(_mask_literals(sql)) and _WITHIN_TAIL.match(sql)
    if wm:
        kind = "accuracy_contract"
        t = float(wm.group("pct")) / 100.0
        conf = float(wm.group("conf") or 95.0) / 100.0
        note("target_rel_error", t)
        note("confidence", conf)
        if estimator == "subsample":
            return mk(kind, refusal=_WITHIN_SUBSAMPLE_MSG)
        if not (0.0 < t < 1.0):
            return mk(kind, refusal=(
                f"WITHIN {wm.group('pct')}% ERROR is outside (0, 100) — state a "
                "relative error target strictly between 0% and 100%"))
        if not (0.5 <= conf < 1.0):
            return mk(kind, refusal=(
                f"AT CONFIDENCE {wm.group('conf')}% must be in [50, 100) — e.g. "
                "AT CONFIDENCE 99%"))
        body, tails = wm.group("body"), ""
        while tm := _tail_match(body):
            tails = body[len(tm[1].group("body")):].rstrip(";").rstrip() + tails
            body = tm[1].group("body")
        cm = _SKELETON.match(body)
        if cm is None:
            return mk(kind, refusal=(
                "WITHIN ... ERROR needs the single-table approx skeleton — "
                "'SELECT APPROX_X(...) FROM t [WHERE] [GROUP BY] [tails] "
                "WITHIN 1% ERROR'; joins and set operations take explicit "
                "accuracy arguments instead"))
        z = NormalDist().inv_cdf(0.5 + conf / 2.0)
        parsed = [(f.upper(), _split_args(a), al) for f, a, al in _AGG_ALIASED.findall(
            cm.group("select"))]
        # validate every aggregate (one accuracy spec each) and collect the
        # sampling aggregates that share ONE pilot scan
        sampling: list[tuple[str, list]] = []
        for i, (fn, args, _al) in enumerate(parsed):
            tag = what = None
            if fn == "APPROX_COUNT_DISTINCT":
                given, what = len(args) > 1, "rse"
                how = (f"rewrite to explicit rse = target/z = {t / z:.6g} "
                       "(1σ figure; routing honors it)")
            elif fn == "APPROX_TOPK":
                given, what = len(args) > 2, "eps"
                how = (f"rewrite to explicit eps = {t!r} (CM overcount ≤ ε·N "
                       "w.p. 1−δ, δ=0.01; routing honors it — only achieving "
                       "CM states claim the route)")
            elif fn == "APPROX_TOP_SUM":
                given, what = len(args) > 3, "eps"
                how = (f"rewrite to explicit eps = {t!r} (weighted CM overcount "
                       "≤ ε·ΣW w.p. 1−δ, δ=0.01)")
            elif fn == "APPROX_PERCENTILE":
                # a weighted digest's bound is fixed at build — no contract
                # can re-plan it
                tag = "weight=" if _pct_weight(args) is not None else None
                given = tag is not None or _percentile_args(args)[1:] != (None, None)
                what = "rank_err/rel_err/weight"
                how = (f"rank_err={t!r} → KLL k={max(200, kll_params(t)['k'])} "
                       "on the fly; only achieving KLL states claim the route")
            elif fn in _SAMPLING_FNS:
                # APPROX_COUNT() and APPROX_COUNT(*) both mean "no explicit ratio"
                given = (any(a.strip() != "*" for a in args) if fn == "APPROX_COUNT"
                         else len(args) > (2 if fn in ("APPROX_COVAR", "APPROX_CORR") else 1))
                what = "sampling ratio"
                how = ("pilot Bernoulli scan (ratio 0.02, over the largest "
                       "registered uniform scramble when one exists) estimates "
                       "the data terms, the closed-form CLT"
                       + ("/Fisher" if fn == "APPROX_CORR" else "")
                       + " inversion plans the ratio (worst group under GROUP "
                       "BY); a multi-aggregate contract pays the pilot once — "
                       "EXPLAIN does not run it"
                       + ("; the CORR target is ABSOLUTE (±t on r)"
                          if fn == "APPROX_CORR" else ""))
                if not given:
                    sampling.append((fn, args))
            else:
                return mk(kind, refusal=(
                    f"{fn} does not take a WITHIN ... ERROR contract — closed-form "
                    "inversions cover COUNT/SUM/AVG/VARIANCE/STDDEV/COVAR/CORR "
                    "(sampling ratio), COUNT_DISTINCT (rse), TOPK (eps), and "
                    "PERCENTILE (rank_err)"))
            if given:
                return mk(kind, refusal=(
                    f"give ONE accuracy spec — the statement has both an explicit "
                    f"{what} argument and a WITHIN contract ({tag or what} + "
                    f"WITHIN, {fn})"))
            note(f"agg{i}.plan" if len(parsed) > 1 else "plan", how)
        contract = (cm, parsed, tails, t, z, sampling)
        if sampling:  # the planned ratios need the pilot's data
            return mk(kind, "within_pilot", key=catalog_key, detail=contract)
        note("rewritten_statement", "see nested properties below")
        return mk(kind, "within", nested=sub(_within_rewrite(*contract[:5], ratios=())))

    tm = _tail_match(sql)
    if tm:
        return mk("", tm[0], m=tm[1], nested=sub(tm[1].group("body")))

    jr = _JOIN_ROWS_SKELETON.match(sql)
    if jr:
        kind, route = "approx_join_rows", "join_rows"
        if estimator == "subsample":
            return mk(kind, route, refusal=(
                "APPROX_JOIN_ROWS is sketch-served (CM inner product) — its "
                "bound is not a sampling CI; ERROR BY SUBSAMPLING applies to "
                "the sampling aggregates"))
        if catalog_key is not None:
            return mk(kind, route, refusal=(
                "APPROX_JOIN_ROWS resolves ONE registration PER SIDE — "
                "catalog_key names a single artifact; drop it and let "
                "auto-selection pick a geometry-compatible CM pair"))
        req_eps = _num(jr.group("eps"))
        if jr.group("eps") is not None and req_eps is None:
            return mk(kind, route, refusal=(
                f"APPROX_JOIN_ROWS third argument {jr.group('eps')!r} must be a "
                "numeric eps (the CM overcount fraction, e.g. 1e-4)"))
        try:
            sides = _join_rows_sides(jr)
        except ValueError as e:
            return mk(kind, route, refusal=str(e))
        picks = _resolve_join_rows_regs(sides, tables, regs if catalog is not None else None,
                                    req_eps)
        if picks is not None:
            note("route", "persisted sketch states (both sides; zero base scans)")
            note("states_a", f"{picks[0][0]}.{picks[0][1]}")
            note("states_b", f"{picks[1][0]}.{picks[1][1]}")
        else:
            note("route", "on-the-fly CM build (one scan per side; the join "
                 "itself never runs)")
            note("eps", req_eps if req_eps is not None else 1e-4)
        return mk(kind, route, m=jr, detail=(sides, picks, req_eps))

    jm = _JOIN3_SKELETON.match(sql) or _JOIN_SKELETON.match(sql)
    if jm:
        three = jm.re is _JOIN3_SKELETON
        kind, route = ("approx_join3", "join3") if three else ("approx_join", "join")
        if estimator == "subsample":
            return mk(kind, route, refusal=(
                "approx joins report closed-form CIs over the fact-side sample "
                "— ERROR BY SUBSAMPLING supports single-table sampling "
                "aggregates (and UNION ALL over persisted uniform samples)"))
        key = catalog_key
        try:
            fn, _vc, ratio_arg = _join_agg(jm.group("select"))
            note("aggregate", f"{fn}(..., {ratio_arg})" if ratio_arg else f"{fn}(...)")
            if three:
                toks = [(jm.group(f"t{i}"), jm.group(f"a{i}")) for i in (1, 2, 3)]
            else:
                lkey, rkey = _join_keys(jm)
            _refuse_join_subquery_where(jm.group("where"))
            if key is None and catalog is not None:
                # auto-selection; an explicit ratio argument is a precision
                # request only samples meeting it may serve
                key = (_resolve_join3_key(toks, tables, regs, _num(ratio_arg)) if three
                       else _resolve_join_key(jm.group("ta"), jm.group("tb"), lkey, rkey,
                                              tables, regs, req_ratio=_num(ratio_arg)))
            detail = (_join3_plan(jm, tables, regs, key) if three
                      else _join_samples(key, jm, lkey, rkey, tables, regs))
        except ValueError as e:
            return mk(kind, route, refusal=str(e))
        if key is None:
            note("route", "on_the_fly (Bernoulli-sample the fact side per statement)")
        elif "," in key:
            note("route", "universe_scramble_pair (p-composition)")
            note("artifacts", key)
        else:
            note("route", "fact_sample_x_exact_dim (broadcast dim)" if not three
                 else "uniform_fact_scramble_x_exact_dims")
            note("artifact", key)
        return mk(kind, route, key=key, m=jm, detail=detail)

    m = _SKELETON.match(sql)
    if not m:
        return mk("unsupported", refusal=(
            "unsupported statement — approx_sql accepts only "
            "'SELECT APPROX_*(...) FROM t [WHERE expr] [GROUP BY col]'; "
            "use the DataFrame API (sketchlib.spark) for anything richer"))
    aggs = tuple((f.upper(), _split_args(a)) for f, a in _AGG.findall(m.group("select")))
    aliased = _AGG_ALIASED.findall(m.group("select"))
    where, table = m.group("where"), m.group("table")

    rmu = _ROLLUP_GROUP.match(m.group("group") or "")
    if rmu:
        kind = "approx_rollup"
        if len(aggs) != 1 or any(al for *_, al in aliased):
            return mk(kind, refusal=(
                "GROUP BY ROLLUP/CUBE takes exactly one un-aliased approx "
                "aggregate — grouping sets multiply the result rows, so a "
                "multi-aggregate or aliased head is ambiguous; issue one "
                "statement per aggregate"))
        fn, args = aggs[0]
        note("aggregate", f"{fn}({', '.join(args)})")
        try:
            cols, sets_ = _rollup_sets(rmu)
        except ValueError as e:
            return mk(kind, refusal=str(e))
        note("group_by", f"GROUPING SETS — {len(sets_)} explicit grouping sets"
             if rmu.group("gsets") else
             f"{rmu.group('mode').upper()}({', '.join(cols)}) — {len(sets_)} grouping sets")
        route, spec = "rollup_levels", None
        if fn in _CATALOG_KINDS:
            if estimator == "subsample":
                return mk(kind, refusal=(
                    f"{fn} is sketch-served — its bound is not a sampling CI; "
                    "ERROR BY SUBSAMPLING applies to the sampling aggregates"))
            try:  # argument validation BEFORE routing: every route raises alike
                _sketch_args(fn, args)
            except ValueError as e:
                return mk(kind, refusal=str(e))
            if catalog_key is None:
                route = "rollup_build"
            elif not any(r["name"] == catalog_key for r in regs.list_sample_rows()):
                # a scramble key instead answers each level from the sample
                route = "rollup_states"
                try:
                    spec = _rollup_states_spec(_registration(regs.list_rows(), catalog_key),
                                               catalog_key, fn, args, cols, where)
                except ValueError as e:
                    return mk(kind, route, refusal=str(e))
                note("route", "persisted_sketch_states (finest grain; base table never read, A5)")
                note("artifact", catalog_key)
            note("plan", "ONE build at the finest grain (persisted states when "
                 "catalog_key names a set registered at exactly that grain, else "
                 "one on-the-fly build); every coarser grouping set is a "
                 "KB-sized state MERGE (on the driver for persisted states "
                 "within the driver budgets, else regroup_states) — zero base "
                 "rescans, per-set cost independent of corpus size")
        else:
            note("plan", "one statement per grouping set over the same "
                 "seed-fixed sample (registered scramble reused level to level)")
        note("output", "GROUP BY columns (rolled-up → NULL), grouping_lvl = SQL "
             "GROUPING() bitmask, then the aggregate's estimate + bound columns")
        return mk(kind, route, key=catalog_key, aggs=aggs, m=m, detail=(cols, sets_, spec))

    kind = "approx_single" if len(aggs) == 1 else "approx_multi"
    if any(al for *_, al in aliased):
        # named estimate columns: the statement runs alias-free, then renames
        given = [al for *_, al in aliased if al]
        if len(set(given)) != len(given):
            return mk(kind, refusal=f"duplicate alias in select list: {given!r}")
        if len(aggs) == 1 and aggs[0][0] == "APPROX_HISTOGRAM":
            return mk(kind, refusal=_HIST_ALIAS_MSG)
        names = tuple(al or None for *_, al in aliased)
        group = _parse_group(m.group("group"))
        if len(aggs) > 1:
            clash = _alias_renames(aggs, names, group)[1]
            if clash:
                return mk(kind, refusal=clash)
        clean = f"SELECT {', '.join(f'{f}({a})' for f, a, _ in aliased)} FROM {table}"
        if where:
            clean += f" WHERE {where}"
        if m.group("group"):
            clean += f" GROUP BY {m.group('group')}"
        return mk(kind, "aliased", aggs=aggs, group=group, detail=names, nested=sub(clean))

    group = _parse_group(m.group("group"))
    common = {"aggs": aggs, "group": group, "m": m}
    note("table", table)
    if where:
        note("where", "subquery predicate (routed via spark.sql)"
             if re.search(r"\(\s*SELECT\b", _mask_literals(where), re.IGNORECASE)
             else "plain predicate")
    if group:
        note("group_by", _canon_group(group))
    fn, args = aggs[0]
    if estimator == "subsample":
        refusal = None
        if len(aggs) > 1:
            refusal = ("ERROR BY SUBSAMPLING takes one aggregate per statement — "
                       "issue one statement per aggregate")
        elif fn not in _SUBSAMPLE_FNS:
            refusal = (f"{fn} is sketch-served — its bound is not a sampling CI a "
                       "subsample spread could replace; ERROR BY SUBSAMPLING "
                       f"applies to {'/'.join(_SUBSAMPLE_FNS)}")
        elif fn == "APPROX_PERCENTILE" and (
            _percentile_args(args)[1:] != (None, None) or _pct_weight(args) is not None
        ):
            refusal = ("give ONE estimator — rank_err/rel_err/weight are static "
                       "sketch-route arguments (KLL / DDSketch / weighted tdigest) "
                       "and ERROR BY SUBSAMPLING is a data-driven row estimator; "
                       "they cannot combine")
        elif fn == "APPROX_COUNT_DISTINCT" and len(args) > 1:
            refusal = ("give ONE accuracy spec — an explicit rse is a static "
                       "sketch-route guarantee a universe scramble cannot promise "
                       "(its achieved rse depends on the unknown distinct count); "
                       "drop the rse or drop ERROR BY SUBSAMPLING")
        if refusal is not None:
            return mk(kind, refusal=refusal, **common)

    if len(aggs) > 1:
        if catalog_key is not None:
            return mk(kind, refusal=_MULTI_KEY_MSG, **common)
        bad = next((f for f, _ in aggs if f not in _SCALAR_AGGS), None)
        if bad is not None:
            return mk(kind, refusal=(
                f"{bad} returns multiple rows per group and cannot be combined "
                "with other aggregates — issue it as its own statement"), **common)
        keys = None
        if catalog is not None:
            keys = _multi_agg_keys(aggs, group, where, table, tables, regs)
        samples = {r["name"]: r for r in regs.list_sample_rows()} if keys else {}
        for i, (f, a) in enumerate(aggs):
            note(f"agg{i}.aggregate", f"{f}({', '.join(a)})")
            if keys:
                s = samples.get(keys[i])
                note(f"agg{i}.route", f"persisted_sample ({s['kind']}, ratio={s['ratio']})"
                     if s else "persisted_sketch_states (base table never read, A5)")
                note(f"agg{i}.artifact", keys[i])
        if not keys:
            try:
                for f, a in aggs:
                    if f in _SAMPLING_FNS:
                        _sampling_ratio(f, a)
            except ValueError as e:
                return mk(kind, "multi_build", str(e), **common)
            note("route", "on_the_fly (one scan of the base table builds every aggregate)")
        return mk(kind, "multi_routed" if keys else "multi_build", detail=keys, **common)

    note("aggregate", f"{fn}({', '.join(args)})")
    key = catalog_key
    if key is None and catalog is not None:
        # Verdict's auto-selection: the best registered states/sample for
        # this statement (None → the on-the-fly build)
        key = _resolve_key(fn, args, group, bool(where), table, tables, regs,
                           uniform_samples_only=(estimator == "subsample"))
    if key is not None:
        # a sketch set and a sample may share a name; the sample serves
        if catalog.sample_exists(key):
            meta = catalog.sample_meta(key)
            refusal = _sample_refusal(fn, args, meta, group, estimator, key)
            if refusal is None:
                note("route", f"persisted_sample ({meta['kind']}, ratio={meta['ratio']})")
                note("artifact", key)
            return mk(kind, "sample", refusal, key=key, detail=meta, **common)
        try:
            spec = _keyed_states_spec(_registration(regs.list_rows(), key), key, fn, args,
                                      group, where, estimator)
        except ValueError as e:
            return mk(kind, "states", str(e), key=key, **common)
        note("route", "persisted_sketch_states (base table never read, A5)")
        note("artifact", key)
        return mk(kind, "states", key=key, detail=spec, **common)
    if estimator == "subsample" and fn in ("APPROX_PERCENTILE", "APPROX_COUNT_DISTINCT"):
        # these answer ONLY from registered scrambles — refused before the
        # base table is resolved, so the refusal never depends on it existing
        return mk(kind, "build", refusal=(
            f"{fn} ERROR BY SUBSAMPLING answers from a registered "
            + ("UNIVERSE scramble on the column" if fn == "APPROX_COUNT_DISTINCT"
               else "UNIFORM scramble")
            + " (pass catalog=... with one created) — the on-the-fly route "
            + ("builds an HLL sketch, whose bound is deterministic,"
               if fn == "APPROX_COUNT_DISTINCT" else
               "builds KLL states, whose rank bound is deterministic,")
            + " not a subsample CI"), **common)
    if fn not in _CATALOG_KINDS and fn not in _SAMPLING_FNS:
        return mk(kind, refusal=f"unknown approximate aggregate {fn!r}", **common)
    try:  # the build's argument checks, refused here so EXPLAIN shows them
        if fn in _CATALOG_KINDS:
            _sketch_args(fn, args)
        else:
            _sampling_ratio(fn, args)
    except ValueError as e:
        return mk(kind, "build", str(e), **common)
    note("route", "on_the_fly (scan the base table, build per statement)")
    return mk(kind, "build", **common)


_HIST_ALIAS_MSG = (
    "APPROX_HISTOGRAM returns a multi-column bin frame (bin, lo, hi, "
    "target_frac) — an AS alias is ambiguous; drop the alias")

_NESTED_PREFIX = {"cte": "final.", "derived": "outer.", "within": "rewritten."}


def _render(p: Plan, prefix: str, rows: list, kind: bool = True) -> None:
    """Append plan ``p``'s EXPLAIN rows: tail and alias nodes are
    transparent (tails listed once as ``result_tails``), nested statements
    carry a prefix, and a refusal shows as ``error`` — plus ``route = error``
    when the route chosen refused."""
    tails = []
    while p.route in ("ORDER BY", "LIMIT", "HAVING"):
        tails.append(p.route)
        p = p.nested
    if tails:
        rows.append((f"{prefix}result_tails", ",".join(reversed(tails))))
    if p.route in ("aliased", "explain") and p.refusal is None:
        return _render(p.nested, prefix, rows, kind)
    if kind:
        rows.append((f"{prefix}statement_kind", p.kind))
    rows.extend((prefix + k, v) for k, v in p.notes)
    if p.refusal is not None:
        if p.route:
            rows.append((f"{prefix}route", "error — approx_sql would raise"))
        rows.append((f"{prefix}error", f"{p.refusal} — approx_sql would raise"))
    elif p.nested is not None:
        # derived_table's own statement_kind stands for its outer statement
        _render(p.nested, prefix + _NESTED_PREFIX[p.route], rows, kind=p.route != "derived")


def explain_sql(
    spark: SparkSession,
    sql: str,
    tables: dict | None = None,
    catalog=None,
    catalog_key: str | None = None,
    estimator: str = "clt",
) -> DataFrame:
    """Routing EXPLAIN for the approx front door — ``approx_sql(spark,
    "EXPLAIN <statement>")`` lands here. Verdict's users could ask WHICH
    sample served a query; this is that surface, statement-first: (property,
    value) rows naming the statement kind, the route (persisted states /
    persisted sample / on-the-fly build / join pair) and the artifact that
    would serve it — WITHOUT executing anything. The rows render the same
    ``Plan`` ``approx_sql`` executes (``_plan``: classification, registry
    lookups and a set operation's schema gate — no build, no temp view), so
    EXPLAIN reports what execution does. A statement execution refuses
    shows its message in ``error``, followed by " — approx_sql would
    raise"."""
    return _explain_frame(spark, _plan(spark, sql.strip(), tables, catalog, catalog_key,
                                       estimator))


def _explain_frame(spark, plan: Plan) -> DataFrame:
    """The (property, value) frame EXPLAIN returns for ``plan``."""
    rows = []
    if plan.estimator == "subsample":
        rows.append(("error_estimator",
                     "variational subsampling (VerdictDB §3.2): b≈n^0.3 blocks, "
                     "half-width = max(q_conf, z·sd)(|√n_i·(ĝ_i−ĝ)|)/√n · √(1−p)"))
    _render(plan, "", rows)
    return local_frame(spark, rows, _EXPLAIN_SCHEMA)


from itertools import count as _count

_SUBQUERY_IDS = _count()


def _mask_literals(sql: str) -> str:
    """Same-length text with single-quoted literal CONTENTS blanked, so
    regex/paren scans can't be fooled by 'FROM (' or ')' inside strings
    while every index still maps onto the original text."""
    return re.sub(r"'[^']*'", lambda m: "'" + " " * (len(m.group(0)) - 2) + "'", sql)


def _extract_ctes(sql: str):
    """Parse ``WITH name AS ( <body> ) [, name2 AS ( <body> ) ...] <final>``
    → ([(name, body), ...], final statement); None when the statement has
    no WITH prefix. Balanced-paren scan over literal-masked text (slices
    the original), so parens inside string literals can't derail it."""
    masked = _mask_literals(sql)
    if not re.match(r"^\s*WITH\b", masked, re.IGNORECASE):
        return None
    ctes = []
    pos = re.match(r"^\s*WITH\s+", masked, re.IGNORECASE).end()
    while True:
        m = re.match(r"(\w+)\s+AS\s*\(", masked[pos:], re.IGNORECASE)
        if not m:
            raise ValueError(
                "malformed WITH clause — expected `name AS ( SELECT ... )` "
                f"at: {sql[pos:pos + 40]!r}"
            )
        name = m.group(1)
        start = pos + m.end() - 1  # the '('
        depth = 0
        for i in range(start, len(masked)):
            if masked[i] == "(":
                depth += 1
            elif masked[i] == ")":
                depth -= 1
                if depth == 0:
                    break
        else:
            raise ValueError("malformed WITH clause — unbalanced parentheses")
        ctes.append((name, sql[start + 1 : i]))
        rest = re.match(r"\s*,\s*", masked[i + 1 :])
        if rest:
            pos = i + 1 + rest.end()
            continue
        return ctes, sql[i + 1 :].strip()


def _extract_subquery(sql: str):
    """Split ``... FROM ( <inner> ) <tail>`` on the balanced outer parens;
    None when the statement has no derived table. Only the STATEMENT'S OWN
    FROM counts: the first ``FROM`` at paren depth 0 of the literal-masked
    text must be the one followed by ``(`` — a ``FROM (`` nested inside a
    WHERE subquery (``WHERE k IN (SELECT j FROM (SELECT ...))``) is that
    predicate's business (routed whole through _apply_where, where Spark
    parses the nesting natively), not a derived-table statement; keying on
    ANY ``FROM (`` made catalog_key statements with such predicates
    spuriously take (and then refuse) the derived-table branch. Scans
    masked text; slices the original."""
    masked = _mask_literals(sql)
    depth = 0
    for m in re.finditer(r"[()]|\bFROM\b", masked, re.IGNORECASE):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:  # the statement's own FROM
            after = re.match(r"\s*\(", masked[m.end():])
            if not after:
                return None
            start = m.end() + after.end() - 1
            d = 0
            for i in range(start, len(masked)):
                if masked[i] == "(":
                    d += 1
                elif masked[i] == ")":
                    d -= 1
                    if d == 0:
                        return sql[: m.start()], sql[start + 1 : i], sql[i + 1 :]
            return None
    return None


# ---------------------------------------------------------------------------
# Sketch-merge set operations (SURVEY.md A17, exceeding Verdict, which passed
# set-ops through unapproximated): ``SELECT APPROX_COUNT_DISTINCT(x) FROM
# (SELECT x FROM a UNION SELECT x FROM b)`` is answered by building an HLL
# PER SIDE in one pass over the narrow unioned projections and MERGING the
# KB-sized states — the sides are never distinct-shuffled or materialized.
# At 100 TB a UNION-distinct of two fact tables is among the largest shuffles
# a query can ask for; register-wise HLL merge IS set union, so the merged
# estimate is byte-identical to sketching the concatenation (locked by
# test). INTERSECT routes through J·|A ∪ B| (MinHash Jaccard × merged-HLL
# union) and EXCEPT through |A| − |A ∩ B|, each with its composed bound in
# the _err column. The route is an OPTIMIZATION, never the only door: any
# shape it cannot fully parse (mixed operators, chained INTERSECT, multi-
# aggregate heads, GROUP BY tails, un-derivable side columns) falls back to
# the generic derived-table path, which materializes the set-op exactly and
# sketches on top — today's behavior, still correct, just not shuffle-free.
# ---------------------------------------------------------------------------

_SETOP_TOKENS = re.compile(
    r"[()]|\bUNION\s+ALL\b|\bUNION\b|\bINTERSECT\b|\bEXCEPT\b", re.IGNORECASE
)
_SETOP_SIDE = re.compile(
    r"^\s*SELECT\s+(?:DISTINCT\s+)?(?P<col>.+?)\s+FROM\s+(?P<table>[\w./-]+)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SETOP_HEAD = re.compile(
    r"^\s*SELECT\s+APPROX_COUNT_DISTINCT\s*\((?P<args>" + _ARGS + r")\)\s*"
    r"(?:AS\s+(?P<alias>\w+)\s*)?$",
    re.IGNORECASE,
)
# minhash rows for INTERSECT/EXCEPT: se_J = 0.5/√r ≈ 0.016 at r=1024 —
# a few KB of state, small next to the HLL registers it rides with
_SETOP_MINHASH_R = 1024


def _strip_outer_parens(s: str) -> str:
    """Peel balanced outer parentheses: '(SELECT ...)' → 'SELECT ...'."""
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        for i, ch in enumerate(s):
            depth += ch == "("
            depth -= ch == ")"
            if depth == 0 and i < len(s) - 1:
                return s  # the opening paren closes early — not outer parens
        s = s[1:-1].strip()
    return s


def _side_out_name(col: str) -> tuple[str, str | None]:
    """A side's projection → (sketchable expression, output column name).
    ``x`` → ('x', 'x'); ``expr AS k`` → ('expr', 'k'); a bare expression has
    no derivable name (None) — the route then cannot check the outer
    aggregate references it and falls back."""
    am = re.match(r"^(?P<expr>.+?)\s+AS\s+(?P<name>\w+)\s*$", col.strip(),
                  re.IGNORECASE | re.DOTALL)
    if am:
        return am.group("expr"), am.group("name")
    c = col.strip()
    return c, c if _IDENT.match(c) else None


def _split_setop(inner: str):
    """Depth-0 set-operator split of a derived-table body → (op, sides) with
    op in {'union','intersect','except'}; None when there is no depth-0 set
    operator, the operators are mixed (SQL gives them different precedence —
    Spark resolves that correctly on the fallback path), or INTERSECT/EXCEPT
    chain beyond two sides. UNION may be n-ary (state merge is n-ary)."""
    masked = _mask_literals(inner)
    depth, cuts = 0, []
    for m in _SETOP_TOKENS.finditer(masked):
        t = m.group(0)
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            op = "union" if t.upper().startswith("UNION") else t.lower()
            cuts.append((m.start(), m.end(), op))
    if not cuts:
        return None
    ops = {op for *_, op in cuts}
    if len(ops) > 1:
        return None
    op = ops.pop()
    if op != "union" and len(cuts) > 1:
        return None
    sides, prev = [], 0
    for s, e, _ in cuts:
        sides.append(inner[prev:s])
        prev = e
    sides.append(inner[prev:])
    return op, [_strip_outer_parens(s) for s in sides]


def _union_all_rewrite(head: str, inner: str) -> str | None:
    """UNION → UNION ALL in a derived table when every outer aggregate is
    duplicate-INSENSITIVE (APPROX_COUNT_DISTINCT): row-level dedup never
    changes the SET of distinct values in any column, so the answer is
    identical — and the distinct exchange (at 100 TB, a full shuffle of two
    fact tables' rows) is elided entirely. This is the general-shape
    complement to the state-merge route above: it composes with GROUP BY /
    WHERE tails, multi-aggregate COUNT-DISTINCT heads, and arbitrary side
    SELECTs the narrow-side parser cannot claim, because the sides are
    never parsed — only the depth-0 UNION tokens are touched. Returns the
    rewritten inner, or None when the rewrite does not apply (a duplicate-
    sensitive aggregate in the head, INTERSECT/EXCEPT at depth 0 — their
    semantics depend on multiplicity — an APPROX inner, which the
    approx-over-approx branch owns, or nothing to rewrite)."""
    aggs = _AGG.findall(head)
    if not aggs or any(fn.upper() != "APPROX_COUNT_DISTINCT" for fn, _ in aggs):
        return None
    masked = _mask_literals(inner)
    if _AGG.search(masked):
        return None
    depth, spans = 0, []
    for m in _SETOP_TOKENS.finditer(masked):
        t = m.group(0)
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            u = t.upper()
            if u in ("INTERSECT", "EXCEPT"):
                return None
            if u == "UNION":  # bare UNION only — UNION ALL matched whole
                spans.append((m.start(), m.end()))
    if not spans:
        return None
    out, prev = [], 0
    for s, e in spans:
        out.append(inner[prev:s])
        out.append("UNION ALL")
        prev = e
    out.append(inner[prev:])
    return "".join(out)


def _setop_route(head: str, inner: str, tail: str):
    """The set-operation shape of a derived-table statement. Returns
    (op, parsed_sides, agg_args, alias, grouped) when the sketch-merge
    route applies — grouped is None for global statements, or
    (group_name, value_pos, group_pos) when a ``GROUP BY g`` tail rides a
    set operation whose sides project the key alongside the value; None
    sends the statement down the generic derived-table path. Execution
    note: a grouped UNION claims this route ONLY when registered states
    can answer it (zero scan); otherwise _approx_setop declines (returns
    None) and the statement falls to the UNION → UNION ALL rewrite, which
    builds the same one-pass scan plan without the side tag."""
    if _AGG.search(_mask_literals(inner)):
        return None  # approx-over-approx owns APPROX inners
    hm = _SETOP_HEAD.match(head)
    if hm is None:
        return None  # multi-aggregate / non-COUNT-DISTINCT heads
    group = None
    t = tail.strip().strip(";").strip()
    if t:
        gm = re.match(r"^GROUP\s+BY\s+(\w+)$", t, re.IGNORECASE)
        if gm is None:
            return None  # WHERE/ORDER/HAVING tails take the generic path
        group = gm.group(1)
    so = _split_setop(inner)
    if so is None:
        return None
    op, sides = so
    args = _split_args(hm.group("args"))
    if not args or not _IDENT.match(args[0]):
        return None  # outer must reference the union's column by name
    # validate the rse argument while classifying, so EXPLAIN raises too
    _rse_args(args)
    n_items = 2 if group else 1
    parsed = []
    for s in sides:
        sm = _SETOP_SIDE.match(s)
        if sm is None or len(_split_args(sm.group("col"))) != n_items:
            return None
        parsed.append(sm)
    # the derived relation's column names come from the FIRST side; the
    # outer aggregate (and GROUP BY key) must reference them — set-op
    # columns align BY POSITION, so later sides contribute positions only.
    # A name mismatch falls back, where Spark's unresolved-column error
    # names the offender.
    first_items = _split_args(parsed[0].group("col"))
    first_names = [(_side_out_name(it)[1] or "").lower() for it in first_items]
    if group is None:
        if first_names[0] != args[0].lower():
            return None
        return op, parsed, args, hm.group("alias"), None
    want = {args[0].lower(), group.lower()}
    if set(first_names) != want or len(want) != 2:
        return None
    pos_v = first_names.index(args[0].lower())
    return op, parsed, args, hm.group("alias"), (group, pos_v, 1 - pos_v)


def _resolve_setop_states(
    op, sides, args, tables, catalog, reg_rows, cols=None, group_cols=None
):
    """Verdict's A5 substitution extended to SET OPERATIONS: when every
    side is a bare ``SELECT col FROM table`` (no WHERE, plain identifier)
    and a registered sketch set holds a compatible HLL (+ MinHash for
    INTERSECT/EXCEPT) on that side's column, the statement is answered
    from PERSISTED STATES ALONE — the base tables are never scanned, so
    latency is corpus-independent. The registration's GROUPING does not
    matter: merging a set's per-group states IS the whole-table sketch
    (register-max for HLL, element-min for MinHash). Compatibility is
    machine-checked — HLL merges need one register width (same p), and a
    MinHash Jaccard across sides is only meaningful when both sides share
    (r, seed): different permutation constants would compare unrelated
    minima and return noise, not J. Any miss or mismatch returns None →
    the one-pass scan route. Returns one {reg, hll_spec, mh_spec} per
    side.

    Cross-side compatibility is resolved by SEARCH, not newest-first-then-
    check: every candidate registration per side is kept, then side 0's
    candidates (newest first) anchor a signature — (p, MinHash (r, seed)
    when needed, value hash family, key hash family when grouped) — that
    the other sides must match; the first complete assignment wins. A
    newest-only pick would decline statements an OLDER registration could
    still answer from states — at the design scale that is a corpus scan
    where a KB state merge sufficed. The kernel hashes by dtype FAMILY
    (ints as uint64, floats as canonical float64, everything else via
    siphash of its string/object form), so a merge across a bigint side
    and a string side would union unrelated hash spaces and return a
    confidently-bounded wrong answer; registrations without a recorded
    dtype (pre-dtype rows, stream registrations) are unknowable → skipped.

    GROUPED statements pass ``cols`` (per-side value column) and
    ``group_cols`` (per-side group column): a side's registration must then
    be grouped EXACTLY by that side's key column, so its per-group states
    line up one-to-one with the statement's groups."""
    import json as _json
    import os as _os

    if catalog is None:
        return None
    need_mh = op in ("intersect", "except")
    req_rse = _num(args[1]) if len(args) > 1 else None
    regs = sorted(reg_rows, key=lambda r: (-r["built_unix"], r["name"]))
    cand: list[list] = []  # per side: [(signature, pick)], newest first
    for i, sm in enumerate(sides):
        if sm.group("where"):
            return None  # states were built unfiltered
        if cols is not None:
            col = cols[i]
        else:
            expr, _ = _side_out_name(sm.group("col"))
            col = expr.strip()
            if not _IDENT.match(col):
                return None
        base = _table_dir(sm.group("table"), tables)
        if base is None:
            return None
        base_n = _os.path.normpath(base)
        side_cand = []
        for reg in regs:
            if _os.path.normpath(reg["input_dir"]) != base_n:
                continue
            if group_cols is not None and (
                (reg["group_by"] or "").lower() != group_cols[i].lower()
            ):
                continue
            specs = _json.loads(reg["specs_json"])
            hll = next(
                (s for s in specs if s["kind"] == "hll" and s["column"] == col), None
            )
            if hll is None:
                continue
            if req_rse is not None and (
                1.04 / (2.0 ** float(hll["params"].get("p", 14))) ** 0.5
                > req_rse * (1 + 1e-9)
            ):
                continue
            vclass = _hash_class(hll.get("dtype"))
            if vclass is None:
                continue  # unknowable input type — never merge blind
            gclass = None
            if group_cols is not None:
                gclass = _hash_class(hll.get("group_dtype"))
                if gclass is None:
                    continue
            mh = None
            if need_mh:
                mh = next(
                    (s for s in specs if s["kind"] == "minhash" and s["column"] == col),
                    None,
                )
                if mh is None:
                    continue
            sig = (
                float(hll["params"].get("p", 14)),
                (int(mh["params"].get("r", 128)), int(mh["params"].get("seed", 17)))
                if need_mh else None,
                vclass,
                gclass,
            )
            side_cand.append((sig, {"reg": reg["name"], "hll": hll, "mh": mh}))
        if not side_cand:
            return None
        cand.append(side_cand)
    for sig0, pick0 in cand[0]:
        out = [pick0]
        for side_cand in cand[1:]:
            match = next((p for s, p in side_cand if s == sig0), None)
            if match is None:
                break
            out.append(match)
        else:
            return out
    return None


def _setop_from_states(spark, op, picks, catalog, out_name) -> DataFrame:
    """Answer a global set-operation from registered states (see
    _resolve_setop_states): per side, merge the set's per-group states into
    one whole-table sketch, then the same estimate math as the scan route.
    Reads KBs of state rows; no base-table scan, no build, no shuffle."""
    merged = []
    for p in picks:
        st = _pick_states(catalog, p)
        hs = [sk for (g, n), sk in sorted(st.items()) if n == p["hll"]["name"]]
        if not hs:
            raise ValueError(
                f"sketch set {p['reg']!r} has no persisted rows for "
                f"{p['hll']['name']!r} — re-register or REFRESH it"
            )
        acc = hs[0]
        for sk in hs[1:]:
            acc = acc.merge(sk)
        m = None
        if p["mh"] is not None:
            ms = [sk for (g, n), sk in sorted(st.items()) if n == p["mh"]["name"]]
            m = ms[0]
            for sk in ms[1:]:
                m = m.merge(sk)
        merged.append((acc, m))
    if op == "union":
        u = merged[0][0]
        for h, _ in merged[1:]:
            u = u.merge(h)
        est, rse = u.estimate()
        err = rse * est
    else:
        (a, ma), (b, mb) = merged
        a_est, a_rse = a.estimate()  # before the merge below touches a
        j, se = ma.jaccard(mb)
        union_est, rse = a.merge(b).estimate()
        inter = j * union_est
        inter_err = inter * rse + union_est * se
        if op == "intersect":
            est, err = inter, inter_err
        else:
            est, err = max(0.0, a_est - inter), a_rse * a_est + inter_err
    return local_frame(
        spark, [(float(est), float(err))], f"{out_name} double, {out_name}_err double"
    )


def _pick_states(catalog, pick) -> dict:
    """{(group, sketch): sketch object} of one set-operation side's HLL
    (and MinHash) states — read on the driver without a Spark job, or via
    the state table when the set is over the driver budgets."""
    from sketchlib.spark.query import _rows_to_states, load_states

    names = [pick["hll"]["name"]] + ([pick["mh"]["name"]] if pick.get("mh") else [])
    rows = catalog.state_rows(pick["reg"], names)
    if rows is None:
        return load_states(catalog.states(pick["reg"]))
    return _rows_to_states(rows)


def _widen_dtypes(dtypes) -> str | None:
    """The Spark type a mixed-family group of recorded dtypes widens to —
    the SAME widening the scan route's union applies, so a states answer and
    a scan answer for one statement share a schema. Equal dtypes pass
    through; mixed ints → bigint; mixed numerics → double; None unknown."""
    ds = set(dtypes)
    if None in ds:
        return None
    if len(ds) == 1:
        return ds.pop()
    if ds <= _HASH_INT:
        return "bigint"
    if ds <= _SETOP_NUMERIC:
        return "double"
    return None


def _grouped_setop_from_states(spark, op, picks, catalog, gname, out_name) -> DataFrame:
    """Grouped set operation from registered states (see
    _resolve_setop_states): each side's registration is grouped by its key
    column, so its state rows line up one-to-one with the statement's
    groups — per-group merges reuse _setop_group_row (same presence
    semantics and bounds as the scan route). Zero base-table scan. States
    canonicalize group keys to strings; the key column is CAST back to the
    registrations' recorded (widened) key type, so the result schema
    matches the scan route's for the same statement; driver-side merge —
    source-level group counts, the regime registered sketch sets serve."""
    from sketchlib.spark.query import _setop_group_row

    tags = [f"s{i}" for i in range(len(picks))]
    mh = None if op == "union" else "mh_v"
    per_g: dict[str, dict] = {}
    for tag, p in zip(tags, picks):
        st = _pick_states(catalog, p)
        found = False
        for (g, n), sk in st.items():
            if n == p["hll"]["name"]:
                per_g.setdefault(g, {})[(tag, "hll_v")] = sk
                found = True
            elif mh and p["mh"] is not None and n == p["mh"]["name"]:
                per_g.setdefault(g, {})[(tag, "mh_v")] = sk
        if not found:
            raise ValueError(
                f"sketch set {p['reg']!r} has no persisted rows for "
                f"{p['hll']['name']!r} — re-register or REFRESH it"
            )
    rows = []
    for g in sorted(per_g):
        row = _setop_group_row(op, per_g[g], tags, "hll_v", mh)
        if row is not None:
            # '__null__' is the build kernel's NULL placeholder — emit a real
            # NULL, as the scan route does (only the native TYPE is lost here)
            rows.append((None if g == "__null__" else g, float(row[0]), float(row[1])))
    out = local_frame(spark, rows, f"{gname} string, {out_name} double, {out_name}_err double")
    gtype = _widen_dtypes(p["hll"].get("group_dtype") for p in picks)
    if gtype is not None and gtype != "string":
        from pyspark.sql import functions as F

        out = out.withColumn(gname, F.col(gname).cast(gtype))
    return out


def _setop_side_idents(sides, grouped):
    """(value_cols, group_cols) — per-side plain-identifier projections of a
    grouped set operation, or None when any side projects an expression
    (states are keyed by stored columns; an expression needs the scan)."""
    _, pos_v, pos_g = grouped
    vals, gcols = [], []
    for sm in sides:
        items = _split_args(sm.group("col"))
        v, _ = _side_out_name(items[pos_v])
        g, _ = _side_out_name(items[pos_g])
        v, g = v.strip(), g.strip()
        if not (_IDENT.match(v) and _IDENT.match(g)):
            return None
        vals.append(v)
        gcols.append(g)
    return vals, gcols


_SETOP_NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double"}

_HASH_INT = {"tinyint", "smallint", "int", "bigint"}
_HASH_FLOAT = {"float", "double"}


def _hash_class(dtype: str | None) -> str | None:
    """The kernel's hash family for a Spark type (see hash_any): any int
    width hashes identically for equal values, floats canonicalize to
    float64, everything else must match exactly. None = unknown."""
    if dtype is None:
        return None
    if dtype in _HASH_INT:
        return "int"
    if dtype in _HASH_FLOAT:
        return "float"
    return dtype


def _side_frames(spark, bases, sides, grouped, tables, apply_where=True, count=False):
    """Per-side (_v[, _g]) projections of ``bases`` — each side's FROM
    table (set-operation scan) or picked uniform sample (UNION ALL over
    samples), resolved once by the plan — with the side-local WHERE
    applied, or None when the sides' projected types are neither identical
    nor all in the numeric family (where the union's widening is lossless
    and matches Spark SQL's set-operation coercion). APPROX_COUNT
    (``count``) never reads the value, so its _v is the literal 1.0 (row
    marker) and mixed value types cannot decline the route. Schema-only —
    no job runs — so ``_plan`` checks this gate with apply_where=False
    (predicates don't change the inspected schema, and subquery predicates
    would register temp views, which planning never does). Mixed
    non-numeric sides decline rather than raise: the generic derived-table
    path materializes the statement through spark.sql, whose own coercion
    rules then own the semantics."""
    frames = []
    for df, sm in zip(bases, sides):
        if apply_where and sm.group("where"):
            df = _apply_where(spark, df, sm.group("where"), tables, sm.group("table"))
        items = _split_args(sm.group("col"))
        vexpr = _side_out_name(items[0 if grouped is None else grouped[1]])[0]
        sel = ["(CAST(1.0 AS DOUBLE)) AS _v" if count else f"({vexpr}) AS _v"]
        if grouped is not None:
            sel.append(f"({_side_out_name(items[grouped[2]])[0]}) AS _g")
        frames.append(df.selectExpr(*sel))
    for c in ["_v"] + (["_g"] if grouped else []):
        types = {f.schema[c].dataType.simpleString() for f in frames}
        if len(types) > 1 and not types <= _SETOP_NUMERIC:
            return None
    return frames


_MERGE_KINDS = {
    "APPROX_PERCENTILE": ("kll", "tdigest"),
    "APPROX_TOPK": ("cm",),
    # the robust statistics serve from the same mergeable quantile states
    "APPROX_MAD": ("kll", "tdigest"),
    "APPROX_TRIMMED_MEAN": ("kll", "tdigest"),
    "APPROX_HISTOGRAM": ("kll", "tdigest"),
    # MG summaries merge (Agarwal et al.) — the certificate adds
    "APPROX_FREQUENT": ("mg",),
}
_MERGE_HEAD = re.compile(
    rf"^\s*SELECT\s+(?P<fn>{'|'.join(_MERGE_KINDS)})"
    r"\s*\((?P<args>" + _ARGS + r")\)\s*"
    r"(?:AS\s+(?P<alias>\w+)\s*)?$",
    re.IGNORECASE,
)


# SQL aggregate/window markers inside a side's projection: such a side is
# NOT a per-row function of the base rows, so it does not commute with row
# sampling (count(*) over a 20%-scramble is 20% of the truth, and HT would
# scale it right back up to nonsense) and is not what persisted per-row
# artifacts represent. Per-row expressions (x*2, upper(s), ...) are fine.
_SIDE_AGG_FN = re.compile(
    r"\b(count|sum|avg|mean|min|max|approx_count_distinct|count_if|any_value|"
    r"first|first_value|last|last_value|collect_list|collect_set|percentile|"
    r"percentile_approx|median|mode|stddev|stddev_pop|stddev_samp|variance|"
    r"var_pop|var_samp|corr|covar_pop|covar_samp|skewness|kurtosis|"
    r"bool_and|bool_or|bit_and|bit_or|bit_xor|grouping|array_agg|listagg|"
    r"hll_sketch_agg|approx_percentile)\s*\(|\bover\s*\(",
    re.IGNORECASE,
)


def _unionall_sides(inner: str, n_items: int):
    """Depth-0 UNION ALL split of a derived-table body into _SETOP_SIDE
    matches projecting exactly ``n_items`` items. None when any depth-0
    operator is NOT ``UNION ALL`` (a distinct UNION / INTERSECT / EXCEPT is
    a different bag), any side is SELECT DISTINCT (same reason), a side's
    projection contains an aggregate/window function (not a per-row value —
    see _SIDE_AGG_FN), or a side is not a bare projection."""
    masked = _mask_literals(inner)
    depth, cuts = 0, []
    for m in _SETOP_TOKENS.finditer(masked):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            if not re.match(r"UNION\s+ALL$", tok, re.IGNORECASE):
                return None
            cuts.append((m.start(), m.end()))
    if not cuts:
        return None
    sides_txt, prev = [], 0
    for s, e in cuts:
        sides_txt.append(inner[prev:s])
        prev = e
    sides_txt.append(inner[prev:])
    parsed = []
    for s in sides_txt:
        s = _strip_outer_parens(s)
        if re.match(r"^\s*SELECT\s+DISTINCT\b", s, re.IGNORECASE):
            return None
        sm = _SETOP_SIDE.match(s)
        if sm is None or len(_split_args(sm.group("col"))) != n_items:
            return None
        masked_col = _mask_literals(sm.group("col"))
        if _SIDE_AGG_FN.search(masked_col) or _AGG.search(masked_col):
            return None  # aggregate/window/APPROX projection — not per-row
        parsed.append(sm)
    return parsed


def _unionall_merge_route(head: str, inner: str, tail: str):
    """UNION ALL bodies under a PERCENTILE/TOPK head — the mergeable-sketch
    case Verdict's A5 substitution generalizes to: the bag concatenation's
    sketch IS the merge of the per-side sketches, so registered states can
    answer ``SELECT APPROX_PERCENTILE(x, ...) FROM (a UNION ALL b)`` with
    zero base-table scan. Claims the shape only: every depth-0 set operator
    is UNION ALL (a distinct UNION or INTERSECT/EXCEPT changes the bag), no
    side is SELECT DISTINCT, sides are bare projections, tail is empty or
    one GROUP BY. Returns (fn, args, parsed_sides, alias, grouped) or None;
    this route is an OPTIMIZATION only — a None (or failed resolution)
    falls through to the generic derived-table path, which materializes the
    UNION ALL (plan concatenation, no shuffle) and builds on the fly."""
    hm = _MERGE_HEAD.match(head)
    if hm is None:
        return None
    group = None
    t = tail.strip().strip(";").strip()
    if t:
        gm = re.match(r"^GROUP\s+BY\s+(\w+)$", t, re.IGNORECASE)
        if gm is None:
            return None
        group = gm.group(1)
    fn = hm.group("fn").upper()
    args = _split_args(hm.group("args"))
    if not args or not _IDENT.match(args[0]):
        return None
    try:
        pa = _sketch_args(fn, args)
    except ValueError:
        return None  # malformed arguments: the generic path owns the error
    if (fn in ("APPROX_TOPK", "APPROX_FREQUENT") and pa[1] is not None) or (
        fn == "APPROX_PERCENTILE" and (pa[1:] != (None, None) or _pct_weight(args))
    ):
        # an explicit accuracy argument (eps, rank_err/rel_err, weight=) is
        # a floor the merged sides' registrations were not checked against
        # — the generic path builds at exactly that accuracy instead
        return None
    parsed = _unionall_sides(inner, 2 if group else 1)
    if parsed is None:
        return None
    first_items = _split_args(parsed[0].group("col"))
    first_names = [(_side_out_name(it)[1] or "").lower() for it in first_items]
    if group is None:
        if first_names[0] != args[0].lower():
            return None
        return fn, args, parsed, hm.group("alias"), None
    want = {args[0].lower(), group.lower()}
    if set(first_names) != want or len(want) != 2:
        return None
    pos_v = first_names.index(args[0].lower())
    return fn, args, parsed, hm.group("alias"), (group, pos_v, 1 - pos_v)


def _resolve_merge_states(
    fn, sides, args, tables, catalog, reg_rows, cols=None, group_cols=None
):
    """Per-side registrations whose sketches can MERGE into the UNION ALL
    answer: one sketch kind across sides, IDENTICAL params (merge
    compatibility), and one hash family for CM (it hashes values; see
    _hash_class) / one-or-mixed-numeric value family for KLL & t-digest
    (they store values, and numerics are mutually comparable). Global
    statements accept ANY registered grouping — merging a set's per-group
    states is the whole-table sketch; grouped statements require each
    side's registration grouped exactly by its key column. A registration
    without a recorded dtype is unknowable → None (the scan is always
    safe)."""
    import json as _json
    import os as _os

    if catalog is None:
        return None
    kinds = _MERGE_KINDS[fn]
    regs = sorted(reg_rows, key=lambda r: (-r["built_unix"], r["name"]))
    cand: list[list] = []  # per side: [(kind, params_json, vclass, gclass, pick)]
    for i, sm in enumerate(sides):
        if sm.group("where"):
            return None  # states were built unfiltered
        if cols is not None:
            col = cols[i]
        else:
            expr, _ = _side_out_name(sm.group("col"))
            col = expr.strip()
            if not _IDENT.match(col):
                return None
        base = _table_dir(sm.group("table"), tables)
        if base is None:
            return None
        base_n = _os.path.normpath(base)
        side_cand = []
        for reg in regs:
            if _os.path.normpath(reg["input_dir"]) != base_n:
                continue
            if group_cols is not None and (
                (reg["group_by"] or "").lower() != group_cols[i].lower()
            ):
                continue
            specs = _json.loads(reg["specs_json"])
            for sp in specs:
                if sp["kind"] not in kinds or sp["column"] != col:
                    continue
                if sp.get("weight"):
                    # weighted CMs hold SUM(w) cells — merging one into an
                    # APPROX_TOPK answer would report weights as counts
                    continue
                vclass = _hash_class(sp.get("dtype"))
                if vclass is None:
                    continue  # unknowable input type — never merge blind
                gclass = None
                if group_cols is not None:
                    gclass = _hash_class(sp.get("group_dtype"))
                    if gclass is None:
                        continue
                side_cand.append((
                    sp["kind"],
                    _json.dumps(sp["params"], sort_keys=True),
                    vclass,
                    gclass,
                    {"reg": reg["name"], "spec": sp},
                ))
        if not side_cand:
            return None
        cand.append(side_cand)

    def _vcompat(kind, a, b):
        # CM hashes values — families must match exactly; KLL/t-digest store
        # VALUES, and numerics are mutually comparable, so int/float mix
        if a == b:
            return True
        return kind in ("kll", "tdigest") and {a, b} <= {"int", "float"}

    # search: side 0's candidates (newest first) anchor the signature; a
    # newest-only pick would miss an OLDER registration that still merges
    for kind0, params0, vclass0, gclass0, pick0 in cand[0]:
        out = [pick0]
        for side_cand in cand[1:]:
            match = next(
                (p for k, pr, vc, gc, p in side_cand
                 if k == kind0 and pr == params0 and _vcompat(kind0, vclass0, vc)
                 and gc == gclass0),
                None,
            )
            if match is None:
                break
            out.append(match)
        else:
            return out
    return None


def _unionall_from_states(spark, fn, args, alias, picks, catalog, grouped) -> DataFrame:
    """Answer a UNION ALL statement by MERGING the sides' persisted states:
    sketch states are semilattice elements, so the merge of per-side states
    IS the state of the concatenated bag — KBs of state rows move and the
    base tables are never scanned. Global statements first collapse each
    side's groups to the ungrouped key (register/bag merges across groups
    ARE the whole-table sketch); grouped statements merge groupwise — keys
    align on the kernel's canonical group string."""
    from pyspark.sql import functions as F

    from sketchlib.spark.build import merge_states

    # driver route: every side's rows, relabelled to one sketch (and the
    # ungrouped key) — the answerer's loader merges each key's rows in the
    # canonical order merge_states runs, so no Spark job runs
    rows, states = [], None
    for p in picks:
        side = catalog.state_rows(p["reg"], p["spec"]["name"])
        if side is None:
            rows = None
            break
        for r in side:
            r["sketch"] = "_q"
            if grouped is None:
                r["group"] = ""
        rows.extend(side)
    if rows is None:
        frames = []
        for p in picks:
            st = catalog.states(p["reg"]).where(F.col("sketch") == p["spec"]["name"])
            st = st.withColumn("sketch", F.lit("_q"))
            if grouped is None:
                st = st.withColumn("group", F.lit(""))  # the ungrouped build's key
            frames.append(st)
        allf = frames[0]
        for f in frames[1:]:
            allf = allf.unionByName(f)
        states = merge_states(allf)
    out = _sketch_answer(spark, fn, args, states, "_q", picks[0]["spec"]["kind"], rows)
    out = _finish_grouped(out, None, grouped[0] if grouped else None)
    return _alias_estimate(out, fn, alias) if alias else out


_SAMPLE_UA_HEAD = re.compile(
    r"^\s*SELECT\s+(?P<fn>APPROX_COUNT|APPROX_SUM|APPROX_AVG|APPROX_VARIANCE|APPROX_STDDEV)"
    r"\s*\((?P<args>" + _ARGS + r")\)\s*"
    r"(?:AS\s+(?P<alias>\w+)\s*)?$",
    re.IGNORECASE,
)


def _unionall_sample_route(head: str, inner: str, tail: str):
    """UNION ALL bodies under a COUNT/SUM/AVG head — the SAMPLE analog of
    the merge route: a Bernoulli(p) sample of each side at the SAME p is a
    Bernoulli(p) sample of the concatenated bag, so registered uniform
    scrambles answer ``SELECT APPROX_SUM(x, p) FROM (a UNION ALL b)`` by
    scanning p-fraction tables instead of the corpus. Sides MAY carry WHERE
    (sampling commutes with row predicates — applied to the sample rows,
    the estimate is unbiased for the filtered bag). Returns
    (fn, args, parsed_sides, alias, grouped) or None; an optimization only
    — failures fall through to the generic derived-table path."""
    hm = _SAMPLE_UA_HEAD.match(head)
    if hm is None:
        return None
    group = None
    t = tail.strip().strip(";").strip()
    if t:
        gm = re.match(r"^GROUP\s+BY\s+(\w+)$", t, re.IGNORECASE)
        if gm is None:
            return None
        group = gm.group(1)
    fn = hm.group("fn").upper()
    args = _split_args(hm.group("args"))
    ratio = _num(args[0] if fn == "APPROX_COUNT" else (args[1] if len(args) > 1 else None))
    if ratio is None or not (0 < ratio <= 1):
        return None  # the generic path owns malformed-ratio errors
    parsed = _unionall_sides(inner, 2 if group else 1)
    if parsed is None:
        return None
    first_items = _split_args(parsed[0].group("col"))
    first_names = [(_side_out_name(it)[1] or "").lower() for it in first_items]
    if group is None:
        if fn != "APPROX_COUNT" and first_names[0] != args[0].lower():
            return None
        return fn, args, parsed, hm.group("alias"), None
    if fn == "APPROX_COUNT":
        if group.lower() not in first_names:
            return None
        pos_g = first_names.index(group.lower())
        return fn, args, parsed, hm.group("alias"), (group, 1 - pos_g, pos_g)
    want = {args[0].lower(), group.lower()}
    if set(first_names) != want or len(want) != 2:
        return None
    pos_v = first_names.index(args[0].lower())
    return fn, args, parsed, hm.group("alias"), (group, pos_v, 1 - pos_v)


def _resolve_unionall_samples(fn, sides, args, tables, catalog, sample_rows):
    """Per-side registered UNIFORM samples sharing ONE ratio ≥ the
    statement's requested ratio: equal p is what makes the union of the
    side samples a Bernoulli(p) sample of the concatenated bag (mixed
    ratios would need per-side weights and a different variance
    composition). Picks the LARGEST common ratio, newest registration per
    side. None → the generic scan path."""
    import os as _os

    if catalog is None:
        return None
    req = _num(args[0] if fn == "APPROX_COUNT" else args[1])
    per_side = []
    for sm in sides:
        base = _table_dir(sm.group("table"), tables)
        if base is None:
            return None
        base_n = _os.path.normpath(base)
        elig = [
            r for r in sample_rows
            if _os.path.normpath(r["input_dir"]) == base_n
            and r["kind"] == "uniform"
            and float(r["ratio"] or 0.0) >= req - 1e-12
        ]
        if not elig:
            return None
        per_side.append(elig)
    common = set.intersection(*[{float(r["ratio"]) for r in e} for e in per_side])
    if not common:
        return None  # no shared p — per-side weights are a different estimator
    p = max(common)
    picks = []
    for elig in per_side:
        cand = [r for r in elig if float(r["ratio"]) == p]
        best = max(cand, key=lambda r: (r["built_unix"], r["name"]))
        picks.append({"name": best["name"], "ratio": p})
    return picks


def _unionall_from_samples(
    spark, fn, args, alias, picks, samples, catalog, grouped, sides, tables,
    estimator: str = "clt",
) -> DataFrame:
    """Answer a UNION ALL statement from the sides' persisted uniform
    samples (``samples``: the picked tables the plan read): project each
    sample to the side's (value[, key]) items, apply side-local WHERE to
    the SAMPLE rows (commutes with Bernoulli sampling), UNION ALL the
    projections (plan concatenation, no exchange) and run the single
    Horvitz-Thompson aggregation at the shared ratio. Scans p-fraction
    tables only — the bases are never read. The plan checked the sides'
    projected types share one numeric family."""
    from pyspark.sql import functions as F

    from sketchlib.spark.sampling import approx_agg_from_uniform_sample

    frames = _side_frames(spark, samples, sides, grouped, tables, count=fn == "APPROX_COUNT")
    allf = frames[0]
    for f in frames[1:]:
        allf = allf.unionByName(f)
    if estimator == "subsample":
        # the equal-ratio union IS a Bernoulli(p) sample of the
        # concatenated bag, so the subsample estimator applies verbatim.
        # n_total sizes b from the sides' registered row counts — valid
        # only when the whole scrambles are read: a side-local WHERE can
        # filter the union down to ~1 row per block (the same geometry
        # collapse the single-table path guards), so filtered unions count
        # the filtered frame instead (one pass over the p-fraction
        # samples, never the bases)
        from sketchlib.spark.subsample import subsample_agg_from_uniform_sample

        any_where = any(sm.group("where") for sm in sides)
        out = subsample_agg_from_uniform_sample(
            allf, "_g" if grouped else None, "_v", picks[0]["ratio"],
            n_total=(None if any_where else
                     sum(int(catalog.sample_meta(p["name"])["rows_sampled"])
                         for p in picks)),
            moments=fn in ("APPROX_VARIANCE", "APPROX_STDDEV"),
        )
    else:
        out = approx_agg_from_uniform_sample(
            allf, "_g" if grouped else None, "_v", picks[0]["ratio"],
            moments=fn in ("APPROX_VARIANCE", "APPROX_STDDEV"),
        )
    keep = _SAMPLING_COLS[fn]
    sel = ([F.col("_g").alias(grouped[0])] if grouped else []) + [F.col(k) for k in keep]
    out = out.select(*sel)
    if alias:
        out = (out.withColumnRenamed(keep[0], alias)
                  .withColumnRenamed(keep[1], f"{alias}_err"))
    return out


def _approx_setop(spark: SparkSession, route, picks, bases, tables: dict | None,
                  catalog) -> DataFrame:
    """Execute the sketch-merge set-operation route: project each side to
    its column(s) (WHERE applied side-local, pushed to that side's scan),
    tag with a side label, UNION ALL the narrow projections (no shuffle —
    union is a plan concatenation), build the sketch states in ONE pass
    grouped by side (× group key when GROUPED), then answer from the states.
    Output matches the single-table convention:
    ([group,] approx_count_distinct_<col>, approx_count_distinct_<col>_err).

    GROUPED statements (``... FROM (a UNION b) GROUP BY g``, sides
    projecting the key alongside the value) key the one-pass build by the
    composite (side, group) and merge per group — the set operation is
    still never materialized or distinct-shuffled; grouped_setop_df
    documents the per-group presence semantics and routing. ``picks`` are
    the per-side registrations the plan resolved (None → the scan of
    ``bases``, the sides' FROM tables the plan resolved)."""
    from pyspark.sql import functions as F

    op, sides, args, alias, grouped = route
    # the rse argument was validated by _setop_route, so a second argument
    # here is always a numeric in (0, 1)
    rse = _num(args[1]) if len(args) > 1 else 0.01
    out_name = alias or f"approx_count_distinct_{args[0]}"
    if picks is not None and grouped is None:
        return _setop_from_states(spark, op, picks, catalog, out_name)
    if picks is not None:
        return _grouped_setop_from_states(spark, op, picks, catalog, grouped[0], out_name)
    tags = [f"s{i}" for i in range(len(sides))]
    frames = [f.withColumn("_side", F.lit(tag))
              for tag, f in zip(tags, _side_frames(spark, bases, sides, grouped, tables))]
    allf = frames[0]
    for f in frames[1:]:
        allf = allf.unionByName(f)
    specs = [SketchSpec("hll_v", "hll", "_v", {"p": hll_params(rse)["p"]})]
    if op in ("intersect", "except"):
        specs.append(SketchSpec("mh_v", "minhash", "_v", {"r": _SETOP_MINHASH_R}))
    mh = "mh_v" if op in ("intersect", "except") else None

    if grouped is not None:
        from sketchlib.spark.query import grouped_setop_df

        gname, _, _ = grouped
        states = build_sketches(allf, specs, group_by=["_side", "_g"])
        out = grouped_setop_df(spark, states, op, "hll_v", mh, tags)
        # restore the key's native type ('__null__' is the composite
        # kernel's NULL placeholder)
        gtype = allf.schema["_g"].dataType  # the WIDENED union type, not side 0's
        key = F.when(F.col("group") == "__null__", F.lit(None)).otherwise(
            F.col("group").cast(gtype)
        )
        return out.select(
            key.alias(gname),
            F.col("estimate").alias(out_name),
            F.col("err_bound").alias(f"{out_name}_err"),
        )

    states = build_sketches(allf, specs, group_by="_side")
    from sketchlib.spark.query import (
        difference_estimate,
        intersection_abs_estimate,
        union_estimate,
    )

    if op == "union":
        est, rse_b = union_estimate(states, "hll_v")
        err = rse_b * est
    elif op == "intersect":
        # absolute bound: finite for disjoint sides (the relative form is
        # inf at J = 0, and inf·0.0 would emit a NaN err column)
        est, err = intersection_abs_estimate(states, "hll_v", "mh_v", tags[0], tags[1])
    else:  # except: |A| − |A ∩ B|, absolute composed bound
        est, err = difference_estimate(states, "hll_v", "mh_v", tags[0], tags[1])
    return local_frame(
        spark, [(float(est), float(err))], f"{out_name} double, {out_name}_err double"
    )


def _apply_where(
    spark: SparkSession, df: DataFrame, where: str, tables: dict | None,
    from_name: str | None = None,
) -> DataFrame:
    """Apply a statement's WHERE to a frame. Plain predicates go through
    ``DataFrame.filter`` (full Spark SQL, pushed to the scan by Catalyst).
    Predicates containing a SUBQUERY — ``k IN (SELECT ...)``, ``NOT IN``,
    ``EXISTS (SELECT ...)`` — are routed through ``spark.sql`` over a
    per-call temp view instead: Spark's expression parser rejects
    subqueries inside filter() strings, but accepts them in a full
    statement, where Catalyst plans the uncorrelated IN as a semi-join
    (broadcast when the subquery side is small — the dim-filter shape this
    serves) and a correlated EXISTS as a correlated semi-join. The view is
    aliased back to the statement's FROM token (``from_name``) so
    correlated predicates can qualify outer columns (``fact.k``). Tables
    the subquery references are registered from ``tables`` exactly like
    the exact pass-through; the view is dropped after analysis (plans
    resolve eagerly at DataFrame creation)."""
    if not re.search(r"\(\s*SELECT\b", _mask_literals(where), re.IGNORECASE):
        return df.filter(where)
    # register every referenced table — INCLUDING the FROM table itself: a
    # self-referencing subquery (`WHERE val > (SELECT avg(val) FROM fact)`)
    # must aggregate over the BASE table even when the outer frame is a
    # scramble; the outer alias below only shadows column qualification
    # (nearest FROM wins), not catalog lookup of the inner FROM
    if tables:
        for name, t in tables.items():
            if re.search(rf"\b{re.escape(name)}\b", where):
                d = spark.read.parquet(t) if isinstance(t, str) else t
                d.createOrReplaceTempView(name)
    view = f"_approx_where_{next(_SUBQUERY_IDS)}"
    df.createOrReplaceTempView(view)
    alias = f" AS {from_name}" if from_name and _IDENT.match(from_name) else ""
    try:
        return spark.sql(f"SELECT * FROM {view}{alias} WHERE {where}")
    finally:
        spark.catalog.dropTempView(view)


def _exact_passthrough(spark: SparkSession, sql: str, tables: dict | None) -> DataFrame:
    """Verdict middleware behavior (A4): a statement with no APPROX_
    aggregate is NOT rewritten — it passes through to the backend (Spark
    SQL) verbatim, with ``tables`` registered as temp views first.

    Only table names the statement actually REFERENCES are registered
    (word-boundary match), limiting the createOrReplaceTempView side effect
    to names this query uses; a same-named pre-existing temp view is still
    rebound to the ``tables`` binding — the dict is authoritative."""
    if tables:
        for name, t in tables.items():
            if not re.search(rf"\b{re.escape(name)}\b", sql):
                continue
            df = spark.read.parquet(t) if isinstance(t, str) else t
            df.createOrReplaceTempView(name)
    return spark.sql(sql)


def _run_multi_routed(spark, p: Plan, tables, catalog) -> DataFrame:
    """A multi-aggregate statement through Verdict's auto-selection: each
    scalar aggregate is answered from the artifact the plan resolved for it
    (``_multi_agg_keys``: sketch aggregates from persisted states, sampling
    aggregates from scrambles) and the per-aggregate single-statement
    results are joined on the GROUP BY key.

    Output columns match ``_multi_agg`` (``<fn>_<col>`` + ``_err``); group
    key columns come back STRING-typed (the states-schema convention — the
    base table is never read, so native types are unknown here)."""
    from pyspark.sql import functions as F

    from sketchlib.spark.build import group_key_expr

    aggs, keys, group = p.aggs, p.detail, p.group
    table_token, where = p.m.group("table"), p.m.group("where")
    gcols = [] if not group else (list(group) if isinstance(group, (list, tuple)) else [group])
    wclause = f" WHERE {where}" if where else ""
    gclause = f" GROUP BY {', '.join(gcols)}" if gcols else ""
    frames = []
    for (fn, args), key, out_name in zip(aggs, keys, _default_out_names(aggs)):
        stmt = f"SELECT {fn}({', '.join(args)}) FROM {table_token}{wclause}{gclause}"
        out = approx_sql(spark, stmt, tables, catalog, key)
        # the states path's RELATIVE rse becomes an absolute err here too
        out = _alias_estimate(out, fn, out_name)
        sel = [F.col(out_name), F.col(f"{out_name}_err")]
        if gcols:
            # states frames name a single-column group 'group'; sample
            # frames keep the user's column — normalize, then join on one
            # canonical string key (composite-safe)
            if "group" in out.columns and len(gcols) == 1:
                out = out.withColumnRenamed("group", gcols[0])
            out = out.select(group_key_expr(gcols).alias("_gk"), *sel)
        else:
            out = out.select(*sel)
        frames.append(out)

    result = frames[0]
    for o in frames[1:]:
        # FULL OUTER, same rationale as _multi_agg: a group missing from one
        # artifact (e.g. an empty stratum) must not erase the others' answers
        result = result.join(o, "_gk", "full_outer") if gcols else result.crossJoin(o)
    if gcols:
        result = _ungroup(result.withColumnRenamed("_gk", "group"), None, group)
        ordered = gcols + [c for c in result.columns if c not in gcols]
        result = result.select(*ordered)
    return result


def _multi_agg(spark: SparkSession, df: DataFrame, aggs: list, group: str | None) -> DataFrame:
    """Multiple scalar approximate aggregates in ONE statement.

    The Spark-first payoff: every sketch aggregate becomes one SketchSpec
    and they ALL build in a single scan (`build_sketches` takes the list);
    the sampling aggregates share one uniform-sample aggregation per ratio.
    Only scalar-shaped aggregates compose (COUNT_DISTINCT/COUNT/SUM/AVG) —
    TOPK/PERCENTILE return multi-row-per-group shapes and must be issued
    alone (the plan refuses them). Output columns: <fn>_<col> and
    <fn>_<col>_err per aggregate.
    """
    from pyspark.sql import functions as F

    # one JVM-derived key string serves BOTH the sketch build and the
    # sampling aggregation, so the full-outer join below always lines up:
    # the kernel's Python str() and Catalyst's cast-to-string disagree on
    # booleans ('True' vs 'true'), NaN, and big-double formatting
    gkey = None
    if group:
        from sketchlib.spark.build import group_key_expr

        gcols = list(group) if isinstance(group, (list, tuple)) else [group]
        gkey = "_gkey_sql"
        df = df.withColumn(gkey, group_key_expr(gcols))

    specs, spec_slots = [], []  # spec_slots: (out_name, spec_name)
    sample_slots: dict[tuple, list] = {}  # (ratio, value_col) -> [(fn, out_name)]
    biv_slots: dict[tuple, list] = {}  # (ratio, x_col, y_col) -> [(fn, out_name)]
    # every name is final (duplicates suffixed) before any frame is built: a
    # rename post-pass cannot do this, because withColumnRenamed renames
    # EVERY column with that name
    for i, ((fn, args), nm) in enumerate(zip(aggs, _default_out_names(aggs))):
        if fn == "APPROX_COUNT_DISTINCT":
            df, col = _materialize_expr(df, args[0])
            p = hll_params(_rse_args(args) or 0.01)["p"]
            specs.append(SketchSpec(f"_q{i}", "hll", col, {"p": p}))
            spec_slots.append((nm, f"_q{i}"))
        elif fn in ("APPROX_COVAR", "APPROX_CORR"):
            df, xcol = _materialize_expr(df, args[0])
            df, ycol = _materialize_expr(df, args[1])
            biv_slots.setdefault((_sampling_ratio(fn, args), xcol, ycol), []).append((fn, nm))
        else:
            col = "_one"
            if fn != "APPROX_COUNT":
                df, col = _materialize_expr(df, args[0])
            sample_slots.setdefault((_sampling_ratio(fn, args), col), []).append((fn, nm))

    outs = []
    if specs:
        states = build_sketches(df, specs, group_by=gkey)
        for nm, spec_name in spec_slots:
            e = estimates_df(spark, states, spec_name)
            e = e.select(
                "group",
                F.col("estimate").alias(nm),
                (F.col("rse_bound") * F.col("estimate")).alias(f"{nm}_err"),
            )
            outs.append(e)
    for (ratio, value_col), slots in sample_slots.items():
        from sketchlib.spark.sampling import approx_agg_uniform

        base = df.withColumn("_one", F.lit(1.0)) if value_col == "_one" else df
        # one kernel frame per (ratio, column) slot; the higher power sums
        # are added to the shared scan only when a moment aggregate needs them
        moments = any(fn in ("APPROX_VARIANCE", "APPROX_STDDEV") for fn, _ in slots)
        est = approx_agg_uniform(base, gkey, value_col, ratio, moments=moments)
        cols = [F.col(gkey).alias("group")] if gkey else []
        for fn, nm in slots:
            src = _SAMPLING_COLS[fn]
            cols += [F.col(src[0]).alias(nm), F.col(src[1]).alias(f"{nm}_err")]
        outs.append(est.select(*cols))
    for (ratio, xcol, ycol), slots in biv_slots.items():
        from sketchlib.spark.sampling import approx_bivariate_uniform

        est = approx_bivariate_uniform(df, gkey, xcol, ycol, ratio)
        cols = [F.col(gkey).alias("group")] if gkey else []
        for fn, nm in slots:
            src = _SAMPLING_COLS[fn]
            cols += [F.col(src[0]).alias(nm), F.col(src[1]).alias(f"{nm}_err")]
        outs.append(est.select(*cols))

    result = outs[0]
    for o in outs[1:]:
        # FULL OUTER: a group missing from one aggregate (e.g. an empty
        # Bernoulli sample for a rare group) must not erase the others'
        # answers for that group
        result = result.join(o, "group", "full_outer") if group else result.crossJoin(o.drop("group"))
    if not group:
        result = result.drop("group")
    else:
        # every branch emitted group as string — restore the user's GROUP BY
        # column(s) and native type(s) on the way out
        result = _ungroup(result, df, group)
    return result


def _dcol(c):
    """Numeric view of a column for caveat math (casts ints/decimals)."""
    from pyspark.sql import functions as F

    return F.col(c).cast("double")


def _rel_err_agg_exprs(cols: list[str]):
    """Spark aggregate expressions whose driver-side max replicates
    the caveat semantics over the same frame — each expression is a
    NaN-guarded ``max`` (Spark's max orders NaN greatest, pandas' skips it,
    so every candidate is wrapped in ``when(~isnan)``); ratio shapes guard
    the denominator like pandas' ``est.where(est > 0)``."""
    from pyspark.sql import functions as F

    cset = set(cols)
    exprs = []

    def push(col):
        v = F.abs(_dcol(col))
        exprs.append(F.max(F.when(~F.isnan(v), v)))

    def push_ratio(err_col, est_col):
        est = F.abs(_dcol(est_col))
        ratio = F.abs(_dcol(err_col)) / est
        exprs.append(F.max(F.when((est > 0) & ~F.isnan(ratio), ratio)))

    for c in ("rse_bound", "rank_err_bound", "rel_err_bound"):
        if c in cset:
            push(c)
    if "err_bound" in cset and "est_count" in cset:
        push_ratio("err_bound", "est_count")
    for c in cols:
        if not c.endswith("_err"):
            continue
        base = c[:-4] if c[:-4] in cset else (
            "est_" + c[:-4] if "est_" + c[:-4] in cset else None
        )
        if base is None:
            continue
        push_ratio(c, base)
    return exprs


def _inner_abs_err_expr(cols: list[str], col: str):
    """Per-row absolute-error Column for estimate column ``col``, or None
    when the column carries no recognizable error companion (the composed
    bound is then not computable and only the relative caveat is emitted).
    NaN rows are nulled so Spark's sum/avg skip them like pandas'."""
    from pyspark.sql import functions as F

    cset = set(cols)
    if col == "estimate" and "rse_bound" in cset:
        e = F.abs(_dcol("rse_bound")) * F.abs(_dcol("estimate"))
    elif f"{col}_err" in cset and col in cset:
        e = F.abs(_dcol(f"{col}_err"))
    elif col.startswith("est_") and f"{col[4:]}_err" in cset:
        e = F.abs(_dcol(f"{col[4:]}_err"))
    else:
        return None
    return F.when(~F.isnan(e), e)


def _alias_join_out(out: DataFrame, jm) -> DataFrame:
    """Apply a join statement's ``AS name`` to the estimate column (and its
    bound → ``name_err``). Join aggregates are APPROX_COUNT/APPROX_SUM only
    (_join_agg), so the default names are fixed."""
    alias = jm.groupdict().get("salias")
    if not alias:
        return out
    fn, _, _ = _join_agg(jm.group("select"))
    default, err = {
        "APPROX_COUNT": ("est_count", "count_err"),
        "APPROX_SUM": ("est_sum", "sum_err"),
    }[fn]
    return (out.withColumnRenamed(default, alias)
               .withColumnRenamed(err, f"{alias}_err"))


def _default_out_names(aggs: list) -> list[str]:
    """The output column of each aggregate of a multi-aggregate statement,
    in statement order — the one naming ``_multi_agg``, the served route
    and alias renames share. A duplicate name is suffixed (_2, _3, …) in
    ``_multi_agg``'s OUTPUT-frame order: sketch aggregates first, then the
    sampling aggregates grouped by (ratio, column), then the bivariate
    ones."""
    def disp(a: str) -> str:
        return a if _IDENT.match(a) else _expr_slug(a)

    def ratio(fn, args):  # the slot's ratio; absent when a sample serves it
        i = 0 if fn == "APPROX_COUNT" else 2 if fn in ("APPROX_COVAR", "APPROX_CORR") else 1
        return _num(args[i]) if len(args) > i else None

    sketch, samples, biv = [], {}, {}
    for i, (fn, args) in enumerate(aggs):
        if fn == "APPROX_COUNT_DISTINCT":
            sketch.append((i, f"approx_count_distinct_{disp(args[0])}"))
        elif fn == "APPROX_COUNT":
            samples.setdefault((ratio(fn, args), "_one"), []).append(
                (i, "approx_count_star"))
        elif fn in ("APPROX_COVAR", "APPROX_CORR"):
            biv.setdefault((ratio(fn, args), args[0].strip(), args[1].strip()), []).append(
                (i, f"{fn.lower()}_{disp(args[0])}_{disp(args[1])}"))
        else:
            # slot key = (ratio, EXACT expression text) — the same identity
            # _materialize_expr keys derived columns on. Keying on the slug
            # would merge distinct expressions that slug alike (a+b vs a-b).
            samples.setdefault((ratio(fn, args), args[0].strip()), []).append(
                (i, f"{fn.lower()}_{disp(args[0])}"))
    order = (sketch
             + [slot for slots in samples.values() for slot in slots]
             + [slot for slots in biv.values() for slot in slots])
    seen: dict[str, int] = {}
    final = [""] * len(aggs)
    for i, base in order:
        n = seen.get(base, 0)
        seen[base] = n + 1
        final[i] = f"{base}_{n + 1}" if n else base
    return final


def _alias_estimate(out: DataFrame, fn: str, alias: str,
                    estimator: str = "clt") -> DataFrame:
    """A single aggregate's answer frame with its estimate column renamed
    to ``alias`` and the companion bound to ``alias`` + a suffix naming
    the bound's units (``_rank_err``, ``_rel_err``, ``_undercount``,
    ``_err``) — shared by aliased statements, the UNION ALL merge and the
    served multi-aggregate route."""
    from pyspark.sql import functions as F

    cols = set(out.columns)
    if fn == "APPROX_COUNT_DISTINCT" and "estimate" in cols:
        others = [c for c in out.columns if c not in ("estimate", "rse_bound")]
        return out.select(
            *others,
            F.col("estimate").alias(alias),
            (F.col("rse_bound") * F.col("estimate")).alias(f"{alias}_err"),
        )
    pairs = {
        **_SAMPLING_COLS,
        "APPROX_COUNT_DISTINCT": ("est_distinct", "distinct_err"),
        "APPROX_TOPK": ("est_count", "err_bound"),
        "APPROX_TOP_SUM": ("est_sum", "err_bound"),
        "APPROX_PERCENTILE": ("value", "rank_err_bound"),
        "APPROX_SPECTRUM": ("sq_singular_value", "cov_err_bound"),
        "APPROX_MAD": ("mad_est", "rank_err_bound"),
        "APPROX_TRIMMED_MEAN": ("trimmed_mean", "rank_err_bound"),
        "APPROX_FREQUENT": ("est_count", "undercount_bound"),
    }.get(fn)
    if fn == "APPROX_PERCENTILE" and estimator == "subsample":
        # the subsample percentile's bound is in VALUE units, not rank
        pairs = ("value", "value_err")
    elif fn == "APPROX_PERCENTILE" and "rel_err_bound" in cols:
        # the rel_err= (DDSketch) route: bound relative to the value
        pairs = ("value", "rel_err_bound")
    if pairs is None or pairs[0] not in cols:
        raise ValueError(
            f"cannot alias {fn} here — the result frame has no "
            f"{pairs[0] if pairs else 'estimate'!r} column "
            f"(columns: {out.columns})"
        )
    if fn == "APPROX_PERCENTILE" and estimator != "subsample":
        # suffix carries the bound's UNITS: rank for KLL/t-digest,
        # value-relative for the rel_err= DDSketch route
        err_name = (f"{alias}_rel_err" if pairs[1] == "rel_err_bound"
                    else f"{alias}_rank_err")
    elif fn in ("APPROX_MAD", "APPROX_TRIMMED_MEAN"):
        # same rank-unit suffix convention as the percentile route;
        # the bracket columns (mad_lo/mad_hi, tm_lo/tm_hi) keep their
        # own names — they are the actual certificate
        err_name = f"{alias}_rank_err"
    elif fn == "APPROX_FREQUENT":
        # the suffix names the contract: mg undershoots, never over
        err_name = f"{alias}_undercount"
    else:
        err_name = f"{alias}_err"
    return (out.withColumnRenamed(pairs[0], alias)
               .withColumnRenamed(pairs[1], err_name))


def _run_aliased(spark, p: Plan, tables, catalog) -> DataFrame:
    """Named estimate columns — ``SELECT APPROX_X(args) AS name`` (Verdict
    lets users name their estimate columns; the driver's oracle compare
    requires both sides to agree on names). The statement re-runs alias-free
    and the estimate column is renamed to ``name``, its companion bound to
    ``name_err`` (``name_rank_err`` for percentiles — that bound is in RANK
    units, not value units). COUNT_DISTINCT's relative ``rse_bound`` is
    converted to an ABSOLUTE ``name_err`` (rse × estimate) — the same
    normalization _run_multi_routed applies, so a named column and its _err
    always share units no matter which path answered."""
    from pyspark.sql import functions as F

    out = _run(spark, p.nested, tables, catalog)
    aggs, names = list(p.aggs), p.detail
    if len(aggs) == 1:
        return _alias_estimate(out, aggs[0][0], names[0], p.estimator)
    mapping = _alias_renames(aggs, names, p.group)[0]
    missing = [c for c in mapping if c not in out.columns]
    if missing:
        raise ValueError(
            f"cannot alias {missing[0]!r} — not in result columns {out.columns}"
        )
    # ONE projection, not sequential withColumnRenamed calls: an alias equal
    # to a later slot's default would otherwise duplicate a name mid-sequence
    # and the later rename would grab both columns
    return out.select(*[F.col(c).alias(mapping.get(c, c)) for c in out.columns])


def _alias_renames(aggs: list, names, group) -> tuple[dict, str | None]:
    """The renames an aliased multi-aggregate statement applies to its
    answer (each aliased slot's default output name and its ``_err``
    bound), and the refusal when a final output name would repeat — an
    alias equal to another slot's default name or to a GROUP BY column.
    The answer's columns are the GROUP BY columns plus each slot's
    ``_default_out_names`` name and bound, so the plan knows them before
    any scan."""
    defaults = _default_out_names(aggs)
    mapping = {}
    for default, alias in zip(defaults, names):
        if alias:
            mapping[default] = alias
            mapping[f"{default}_err"] = f"{alias}_err"
    gcols = [] if not group else list(group) if isinstance(group, (list, tuple)) else [group]
    final = [mapping.get(c, c) for c in gcols + [n for d in defaults for n in (d, f"{d}_err")]]
    clash = next((n for n in final if final.count(n) > 1), None)
    if clash is None:
        return mapping, None
    return mapping, (f"output name {clash!r} appears more than once in the result "
                     f"({final}) — every output column must have a unique name")


def _pilot_ratios(
    spark, m, sampling, group, tables, z: float, t: float,
    p0: float = 0.02, seed: int = 777, catalog=None,
) -> list[float]:
    """Plan the sampling ratio meeting a relative-error contract for EACH
    sampling aggregate in ``sampling`` (a list of (fn, args)) by inverting
    its closed-form CLT bound — with the data-dependent terms (N, Σx²,
    central moments) estimated from ONE shared PILOT scan (Verdict planned
    sample choice from stored statistics; with no stored profile, a p₀
    Bernoulli pass is the honest stand-in, and a multi-aggregate contract
    pays it once, not per aggregate).

    Inversions (rel. target t at the contract's z):
      COUNT      t² = z²(1−p)/(pN)            → p = z²/(t²N + z²)
      SUM        t²S² = z²Q(1−p)/p, Q = Σx²   → p = z²Q/(t²S² + z²Q)
      AVG        t²μ² = z²σ²(1−p)/(pN)        → p = z²σ²/(t²μ²N + z²σ²)
      VARIANCE   t²m₂² = z²K(1−p)/(pN), K=μ₄−σ⁴ → p = z²K/(t²m₂²N + z²K)
      STDDEV     rel err of s ≈ ½ that of s²  → VARIANCE inversion at 2t
      COVAR      t²s_xy² = z²K(1−p)/(pN), K=μ₂₂−σ_xy² → p = z²K/(t²s_xy²N + z²K)
      CORR       Fisher half-width ≈ (1−r²)·z√((1−p)/(pN))  (ABSOLUTE target —
                 a relative target on a near-zero r would demand the full
                 scan for no insight) → p = z²(1−r²)²/(t²N + z²(1−r²)²)

    GROUPED statements plan for the WORST group (max required p across the
    pilot's groups) — a group too rare to appear in the pilot cannot be
    planned for and gets the worst-group ratio (documented best effort,
    the reported per-group error columns stay honest either way).
    Degenerate pilots (empty, zero mean/variance where the relative target
    divides by it) plan p = 1.0 — the exact scan, never an unfounded claim.

    When the catalog holds a UNIFORM scramble of the table, the pilot scans
    the LARGEST one instead of the base table — at 100 TB that turns the
    2% pilot from a 2 TB read into p_s×2% of the corpus, and a contract
    whose planned ratio fits the scramble then never touches the base
    table at all. Every planned statistic is ratio-type except N, which
    rescales by the scramble's own inclusion probability
    (N̂ = n₀/(p₀·p_s)); a second Bernoulli thinning of a Bernoulli sample
    is still an unbiased pilot of the table.
    """
    import os as _os

    from pyspark.sql import functions as F

    df, p_s = None, 1.0
    if catalog is not None:
        base = _table_dir(m.group("table"), tables)
        if base is not None:
            base_n = _os.path.normpath(base)
            cand = [
                r for r in catalog.list_sample_rows()
                if _os.path.normpath(r["input_dir"]) == base_n and r["kind"] == "uniform"
            ]
            if cand:
                best = max(cand, key=lambda r: (float(r["ratio"] or 0.0), r["name"]))
                df, p_s = catalog.sample(best["name"]), float(best["ratio"])
    if df is None:
        df = _resolve_table(spark, m.group("table"), tables)
    if m.group("where"):
        df = _apply_where(spark, df, m.group("where"), tables, m.group("table"))

    # one shared pilot scan: every aggregate's statistics ride the same
    # aggregation, aliased per slot. The same STABLE central-moment
    # aggregates the estimator kernels use (sampling.py) — raw power sums
    # would overflow integer columns and cancel catastrophically at
    # mean ≫ stddev, exactly where the planned ratio matters most.
    aggs = [F.count("*").alias("n0")]
    for i, (fn, args) in enumerate(sampling):
        if fn in ("APPROX_COVAR", "APPROX_CORR"):
            df, xc = _materialize_expr(df, args[0])
            df, yc = _materialize_expr(df, args[1])
            x, y = F.col(xc), F.col(yc)
            # no F.corr: it throws DIVIDE_BY_ZERO on a constant column under
            # ANSI mode; r̂ is recomputed from these guarded driver-side
            aggs += [
                F.covar_pop(x, y).alias(f"cxy_{i}"),
                F.var_pop(x).alias(f"vx_{i}"), F.var_pop(y).alias(f"vy_{i}"),
                F.kurtosis(x).alias(f"gx_{i}"), F.kurtosis(y).alias(f"gy_{i}"),
            ]
        elif fn != "APPROX_COUNT":
            df, c = _materialize_expr(df, args[0])
            v = F.col(c).cast("double")
            aggs += [F.sum(v).alias(f"s1_{i}"), F.sum(v * v).alias(f"s2_{i}")]
            if fn in ("APPROX_VARIANCE", "APPROX_STDDEV"):
                aggs += [F.var_pop(v).alias(f"m2_{i}"), F.kurtosis(v).alias(f"g2_{i}")]
    pilot = df.sample(fraction=p0, seed=seed)
    gcols = [] if not group else (list(group) if isinstance(group, (list, tuple)) else [group])
    rows = pilot.groupBy(*gcols).agg(*aggs).collect()
    z2, t2 = z * z, t * t

    def _f(val) -> float:
        """Collected aggregate → finite float (NULL/NaN → 0: an all-NULL or
        constant pilot column carries no signal; the formulas then plan the
        degenerate p = 1.0 through their own zero-denominator guards)."""
        fv = float(val if val is not None else 0.0)
        return fv if fv == fv else 0.0

    out: list[float] = []
    for i, (fn, args) in enumerate(sampling):
        p_req = 0.0
        for r in rows:
            n0 = r["n0"]
            if not n0:
                continue
            N = n0 / (p0 * p_s)
            if fn == "APPROX_COUNT":
                p = z2 / (t2 * N + z2)
            elif fn in ("APPROX_COVAR", "APPROX_CORR"):
                vx, vy = _f(r[f"vx_{i}"]), _f(r[f"vy_{i}"])
                if fn == "APPROX_CORR":
                    if vx == 0 or vy == 0:
                        p = 1.0  # degenerate marginal — only the exact scan is honest
                    else:
                        r_hat = max(-1.0, min(1.0, _f(r[f"cxy_{i}"]) / (vx * vy) ** 0.5))
                        g = (1.0 - r_hat * r_hat) ** 2
                        p = z2 * g / (t2 * N + z2 * g)
                else:
                    cxy = _f(r[f"cxy_{i}"])
                    # the kernel's Cauchy–Schwarz K: √(μ₄₀μ₀₄) − σ_xy²
                    gx, gy = _f(r[f"gx_{i}"]), _f(r[f"gy_{i}"])
                    K = max(
                        (vx * vx * (gx + 3.0) * vy * vy * (gy + 3.0)) ** 0.5 - cxy * cxy,
                        0.0,
                    )
                    p = 1.0 if cxy == 0 else z2 * K / (t2 * cxy * cxy * N + z2 * K)
            elif fn == "APPROX_SUM":
                S, Q = _f(r[f"s1_{i}"]) / (p0 * p_s), _f(r[f"s2_{i}"]) / (p0 * p_s)
                p = 1.0 if S == 0 else z2 * Q / (t2 * S * S + z2 * Q)
            elif fn == "APPROX_AVG":
                mu = _f(r[f"s1_{i}"]) / n0
                var = max(_f(r[f"s2_{i}"]) / n0 - mu * mu, 0.0)
                p = 1.0 if mu == 0 else z2 * var / (t2 * mu * mu * N + z2 * var)
            else:  # APPROX_VARIANCE / APPROX_STDDEV
                m2, g2 = _f(r[f"m2_{i}"]), _f(r[f"g2_{i}"])
                K = max(m2 * m2 * (g2 + 2.0), 0.0)  # μ₄ − σ⁴ = σ⁴(g₂+2)
                tv = t if fn == "APPROX_VARIANCE" else 2.0 * t
                p = 1.0 if m2 == 0 else z2 * K / (tv * tv * m2 * m2 * N + z2 * K)
            p_req = max(p_req, p)
        if p_req <= 0:
            out.append(1.0)  # empty/degenerate pilot: only the exact scan is honest
        else:
            out.append(min(1.0, max(p_req, 1e-6)))
    return out


def _within_rewrite(m, parsed, tails, t, z, ratios) -> str:
    """Accuracy-contract statements — ``SELECT APPROX_X(...) FROM t [...]
    WITHIN <t>% ERROR [AT CONFIDENCE <c>%]`` (default 95%): the user states
    the target, the library plans the cheapest parameters meeting it
    (Verdict/BlinkDB's accuracy-first UX; our planner.py bound inversions
    made statement-level). This is the statement the contract rewrites to,
    the skeleton ``m``'s aggregates (``parsed``: (fn, args, alias)) given
    explicit accuracy arguments, per family:

    - COUNT_DISTINCT → explicit rse argument t/z (the HLL/KMV rse is a 1σ
      figure; z·rse ≤ t makes the contract hold at the stated confidence);
      routing already honors explicit rse (states must achieve it).
    - TOPK / TOP_SUM → explicit eps argument t (CM overcount ≤ ε·N w.p.
      1−δ, δ=0.01 fixed — the confidence clause does not tighten δ; N is
      the total weight for TOP_SUM). Routing honors the eps: only CM
      states achieving it claim the persisted route.
    - PERCENTILE → ``rank_err=t`` named argument: on-the-fly builds use the
      planner's k inversion; routing only claims KLL states achieving it.
      The contract is in RANK units (WITHIN 1% ERROR = ±0.01 rank).
    - COUNT/SUM/AVG/VARIANCE/STDDEV/COVAR/CORR → the pilot-planned sampling
      ``ratios`` (_pilot_ratios, one shared pilot scan for all of them),
      injected as the explicit ratio argument — so auto-selection serves
      the statement from any registered uniform scramble of ratio ≥ the
      plan, and the on-the-fly build samples at exactly the planned ratio.
      A plan of 1.0 degenerates to the exact scan (error 0 ≤ any target).
      CORR's target is ABSOLUTE (±t on the correlation itself — a relative
      target on a near-zero r would demand a full scan for no insight);
      every other family's is relative.

    The rewritten statement (``tails`` re-appended) is planned whole, so
    tails, aliases, GROUP BY shapes, multi-aggregate composition and catalog
    routing all behave exactly as if the user had typed the accuracy
    arguments by hand. The statement is rebuilt structurally — a textual
    substitution could splice into unrelated text."""
    ratios = iter(ratios)
    sel_items = []
    for fn, args, alias in parsed:
        if fn == "APPROX_COUNT_DISTINCT":
            new_args = [args[0], repr(t / z)]
        elif fn == "APPROX_TOPK":
            new_args = [args[0], args[1], repr(t)]
        elif fn == "APPROX_TOP_SUM":
            new_args = [args[0], args[1], args[2], repr(t)]
        elif fn == "APPROX_PERCENTILE":
            new_args = args + [f"rank_err={t!r}"]
        else:
            ratio_txt = f"{next(ratios):.10g}"
            if fn == "APPROX_COUNT":
                new_args = [ratio_txt]
            elif fn in ("APPROX_COVAR", "APPROX_CORR"):
                new_args = [args[0], args[1], ratio_txt]
            else:
                new_args = [args[0], ratio_txt]
        sel_items.append(
            f"{fn}({', '.join(new_args)})" + (f" AS {alias}" if alias else "")
        )

    stmt = f"SELECT {', '.join(sel_items)} FROM {m.group('table')}"
    if m.group("where"):
        stmt += f" WHERE {m.group('where')}"
    if m.group("group"):
        stmt += f" GROUP BY {m.group('group')}"
    return stmt + tails


# ---------------------------------------------------------------------------
# GROUP BY ROLLUP / CUBE — grouping sets from ONE finest-grain build
# ---------------------------------------------------------------------------

def _rollup_grouping_sets(k: int, mode: str) -> list[tuple[int, ...]]:
    """Grouping sets as kept-index tuples, finest first. ROLLUP = the k+1
    prefixes; CUBE = all 2^k subsets (original column order preserved)."""
    if mode == "CUBE":
        from itertools import combinations

        return [c for j in range(k, -1, -1) for c in combinations(range(k), j)]
    return [tuple(range(j)) for j in range(k, -1, -1)]


def _grouping_mask(keep: tuple[int, ...], k: int) -> int:
    """SQL GROUPING() bitmask: leftmost GROUP BY column = most significant
    bit, a set bit = that column is rolled up in this grouping set."""
    return sum(1 << (k - 1 - i) for i in range(k) if i not in keep)


def _shape_rollup_level(out, keep: tuple[int, ...], cols: list[str],
                        native: dict[str, str], mask: int):
    """Shape one grouping set's sketch-route answer frame: split the kept
    key parts out of the composite ``group`` string (native-cast when the
    base schema is known), NULL-fill the rolled-up columns, and stamp the
    GROUPING() bitmask."""
    from pyspark.sql import functions as F

    from sketchlib.spark.build import GROUP_SEP

    kept = [cols[i] for i in keep]
    if kept:
        parts = F.split(F.col("group"), GROUP_SEP)
        for idx, c in enumerate(kept):
            out = out.withColumn(c, parts.getItem(idx).cast(native.get(c, "string")))
    out = out.drop("group")
    for i, c in enumerate(cols):
        if i not in keep:
            out = out.withColumn(c, F.lit(None).cast(native.get(c, "string")))
    out = out.withColumn("grouping_lvl", F.lit(mask).cast("int"))
    est = [c for c in out.columns if c not in cols and c != "grouping_lvl"]
    return out.select(*cols, "grouping_lvl", *est)


def _rollup_sets(rmu) -> tuple[list[str], list[tuple[int, ...]]]:
    """(key columns, grouping sets as kept-index tuples, finest first) of a
    matched ROLLUP / CUBE / GROUPING SETS clause; ValueError on a duplicate
    column, an empty GROUPING SETS or a CUBE over more than 4 columns."""
    if rmu.group("gsets"):
        # explicit GROUPING SETS ((a, b), (a), ()): the key-column list is
        # the first-appearance UNION of the sets (GROUPING() bitmask order,
        # and the grain a catalog registration must match)
        raw_sets = [
            [c.strip() for c in inner.split(",") if c.strip()]
            for inner in _GSET_ITEM.findall(rmu.group("sets"))
        ]
        cols = []
        for s_ in raw_sets:
            if len(set(s_)) != len(s_):
                raise ValueError(
                    f"duplicate column in grouping set ({', '.join(s_)})"
                )
            for c in s_:
                if c not in cols:
                    cols.append(c)
        if not cols:
            raise ValueError(
                "GROUPING SETS names no columns — use the plain ungrouped "
                "statement for a single global aggregate"
            )
        k = len(cols)
        sets_ = [tuple(i for i in range(k) if cols[i] in s_) for s_ in raw_sets]
    else:
        mode = rmu.group("mode").upper()
        cols = [c.strip() for c in rmu.group("cols").split(",")]
        if len(set(cols)) != len(cols):
            raise ValueError(f"duplicate column in {mode}({', '.join(cols)})")
        if mode == "CUBE" and len(cols) > 4:
            raise ValueError(
                "CUBE takes at most 4 columns (2^k grouping sets) — use "
                "ROLLUP or explicit GROUPING SETS for wider keys"
            )
        sets_ = _rollup_grouping_sets(len(cols), mode)
    return cols, sets_


def _rollup_states_spec(reg, key: str, fn: str, args: list, cols: list[str], where) -> dict:
    """The serving spec of sketch set ``reg`` named by an explicit
    ``catalog_key`` for a ROLLUP/CUBE statement over ``cols`` — the
    refusals such a key can meet: states take no WHERE, and they must be registered at exactly the finest grain
    (coarser sets are merged down from it)."""
    if where:
        raise ValueError(_STATES_WHERE_MSG)
    if reg["group_by"] != ",".join(cols):
        raise ValueError(
            f"ROLLUP/CUBE needs states at the FINEST grain: statement "
            f"grouping ({','.join(cols)}) != registered group_by "
            f"{reg['group_by']!r} for {key!r} — coarser sets "
            "are merged down from the finest, never rebuilt"
        )
    return _serving_spec(reg, fn, args, key)


def _run_rollup(spark, p: Plan, tables, catalog) -> DataFrame:
    """One approx aggregate ``GROUP BY ROLLUP(a, b)`` / ``CUBE(a, b)``.

    Sketch-served aggregates (COUNT_DISTINCT / PERCENTILE / TOPK / TOP_SUM)
    answer EVERY grouping set from one build at the finest grain: coarser
    sets are state merges (``regroup_states``) — KB-sized frames, zero
    rescans of the base data, which is the mergeable-sketch property made
    user-visible (and what makes the rollup corpus-size-independent when
    served from registered states). Sampling aggregates recurse one
    statement per grouping set over the same seed-fixed sample.

    Output schema: the GROUP BY columns (rolled-up ones NULL), then
    ``grouping_lvl`` = the SQL GROUPING() bitmask (leftmost column = most
    significant bit; 0 = finest), then the aggregate's usual
    estimate/bound columns — matching ``GROUP BY ROLLUP`` + ``GROUPING()``
    in ANSI SQL engines row for row. The plan's route says which build
    serves: ``rollup_states`` (the explicit key's finest-grain states),
    ``rollup_build`` (one on-the-fly build) or ``rollup_levels`` (the
    per-grouping-set recursion).
    """
    from pyspark.sql import functions as F

    from sketchlib.spark.build import GROUP_SEP, regroup_states

    m, (fn, args), (cols, sets_, spec) = p.m, p.aggs[0], p.detail
    k = len(cols)

    def _recurse() -> DataFrame:
        # one statement per grouping set over the same seed-fixed sample
        # (a registered scramble is reused level to level; the base is
        # never scanned more than the finest build would)
        core = f"SELECT {m.group('select')} FROM {m.group('table')}"
        if m.group("where"):
            core += f" WHERE {m.group('where')}"
        results = []
        for keep in sets_:
            kept = [cols[i] for i in keep]
            stmt = core + (f" GROUP BY {', '.join(kept)}" if kept else "")
            results.append(approx_sql(spark, stmt, tables, catalog, p.key,
                                      estimator=p.estimator))
        # key-column dtypes from whichever result kept each column (with
        # explicit GROUPING SETS no single set need contain them all)
        ftypes: dict[str, str] = {}
        for out in results:
            for c, t in out.dtypes:
                ftypes.setdefault(c, t)
        shaped = []
        for keep, out in zip(sets_, results):
            for i, c in enumerate(cols):
                if i not in keep:
                    out = out.withColumn(c, F.lit(None).cast(ftypes.get(c, "string")))
            out = out.withColumn(
                "grouping_lvl", F.lit(_grouping_mask(keep, k)).cast("int")
            )
            est = [c for c in out.columns if c not in cols and c != "grouping_lvl"]
            shaped.append(out.select(*cols, "grouping_lvl", *est))
        res = shaped[0]
        for f_ in shaped[1:]:
            res = res.unionByName(f_)
        return res

    if p.route == "rollup_levels":
        return _recurse()
    native: dict[str, str] = {}
    if p.route == "rollup_states":
        # finest-grain rows read on the driver: every grouping set is then a
        # re-keying of these rows (the answerer merges each coarser key in
        # regroup_states' canonical order), no Spark job
        rows = catalog.state_rows(p.key, spec["name"])
        states = catalog.states(p.key) if rows is None else None
        name, kind = spec["name"], spec["kind"]
    else:
        df, sp = _sketch_spec(_base_frame(spark, m, tables), fn, args)
        # persist the finest-grain states: every grouping set derives from
        # this ONE frame — without it each level's action would re-run the
        # base scan, which is exactly what rollup-by-merge exists to avoid
        states = build_sketches(df, [sp], group_by=list(cols)).persist()
        native = dict(df.dtypes)
        name, kind, rows = sp.name, sp.kind, None

    frames = []
    for keep in sets_:
        st, lvl = states, rows
        if len(keep) != k:
            if rows is None:
                st = regroup_states(states, list(keep))
            else:
                lvl = []
                for r in rows:
                    parts = r["group"].split(GROUP_SEP)
                    key = GROUP_SEP.join(parts[i] for i in keep if i < len(parts))
                    lvl.append({**r, "group": key})
        out = _sketch_answer(spark, fn, args, st, name, kind, rows=lvl)
        frames.append(
            _shape_rollup_level(out, keep, cols, native, _grouping_mask(keep, k))
        )
    res = frames[0]
    for f_ in frames[1:]:
        res = res.unionByName(f_)
    if rows is not None:
        # collecting a union of local relations runs a Spark job; the
        # levels' rows (each collected without one) make one relation
        res = local_frame(spark, [r for f_ in frames for r in f_.collect()], res.schema)
    return res


def approx_sql(
    spark: SparkSession,
    sql: str,
    tables: dict | None = None,
    catalog=None,
    catalog_key: str | None = None,
    estimator: str = "clt",
) -> DataFrame:
    """Run one Verdict-style approximate SQL statement; returns a DataFrame
    whose columns include the estimate and its error bound (A15).

    Pass ``catalog`` (a SketchCatalog) and ``catalog_key`` to answer FROM
    PERSISTED STATES ONLY — Verdict's A5 "scan the sample instead of the
    base table" substitution: the base table is never read (the FROM name is
    not even resolved), so latency is independent of corpus size. With
    ``catalog`` alone (no key), the best registered artifact is
    AUTO-SELECTED per ``resolve_catalog_key`` — states when the statement
    is unfiltered and group-matched, else the best-fitting sample — falling
    back to an on-the-fly build when nothing is registered for the table.
    Statements without any APPROX_ aggregate pass through to Spark SQL
    exactly (A4). The
    registered sketch set must match the statement (same aggregate kind,
    column, and GROUP BY; no WHERE — states were built unfiltered); a
    mismatch raises rather than silently paying a rebuild the caller opted
    out of.

    Sample-lifecycle DDL (Verdict's literal A2/A3 entry points) is routed to
    the same catalog: ``CREATE [OR REPLACE] SAMPLE s FROM t KIND uniform
    RATIO 0.1 [ON col] [FRACTIONS '<json>'] [SEED n]``, ``SHOW SAMPLES``,
    ``DROP SAMPLE s``. CREATE returns the registration row, SHOW the
    registry, DROP a (name, dropped) row.

    ``estimator`` selects the error mechanism for the SAMPLING aggregates
    (APPROX_COUNT/SUM/AVG/VARIANCE/STDDEV/COVAR/CORR;
    APPROX_PERCENTILE from a registered uniform scramble — there the
    subsample spread gives VALUE-unit quantile CIs the closed-form rank
    bound cannot; APPROX_COUNT_DISTINCT from a registered UNIVERSE
    scramble — the sample's distinct values are a Bernoulli(p) sample of
    the value domain): ``"clt"`` (default) = the closed-form bounds of
    sampling.py; ``"subsample"`` = VerdictDB's variational subsampling
    (subsample.py — `[paper:VerdictDB §3.2]`). A statement tail ``ERROR
    BY SUBSAMPLING`` sets it from SQL. Estimates are identical either
    way; only the error columns change estimator. Sketch-only
    aggregates (TOPK), sketch-states routes, joins, set operations over
    states, stratified scrambles, multi-aggregate lists and WITHIN
    contracts refuse the modifier loudly — their bounds are not sampling
    CIs a subsample spread could replace.

    The statement is classified once (``_plan``); a statement the plan
    refuses raises its ValueError before anything is read, and ``EXPLAIN
    <statement>`` renders the plan (``explain_sql``) instead of running it."""
    return _run(spark, _checked(_plan(spark, sql, tables, catalog, catalog_key, estimator)),
                tables, catalog)


def _checked(plan: Plan) -> Plan:
    """``plan``, or ValueError with the first refusal along its nested
    chain: every nested plan runs when its parent does, so a refusal
    anywhere raises before a CTE body or derived table is computed."""
    node = plan
    while node.refusal is None and node.nested is not None and node.route != "explain":
        node = node.nested
    if node.refusal is not None:
        raise ValueError(node.refusal)
    return plan


def _run(spark, p: Plan, tables, catalog) -> DataFrame:
    """Execute plan ``p`` (refusal-free: approx_sql raises first): the route
    ``_plan`` chose, nothing re-decided."""
    route = p.route
    if route == "explain":
        return _explain_frame(spark, p.nested)
    if route == "ddl":
        return _ddl(spark, p.sql, tables, catalog)
    if route == "exact":
        return _exact_passthrough(spark, p.sql, tables)
    if route == "cte":
        return _run_cte(spark, p, tables, catalog)
    if route == "derived":
        return _run_derived(spark, p, tables, catalog)
    if route == "setop":
        return _approx_setop(spark, p.m, *p.detail, tables, catalog)
    if route == "unionall_merge":
        fn, args, _sides, alias, grouped = p.m
        return _unionall_from_states(spark, fn, args, alias, p.detail, catalog, grouped)
    if route == "unionall_sample":
        fn, args, sides, alias, grouped = p.m
        return _unionall_from_samples(spark, fn, args, alias, *p.detail, catalog, grouped,
                                      sides, tables, estimator=p.estimator)
    if route == "within":
        return _run(spark, p.nested, tables, catalog)
    if route == "within_pilot":
        cm, parsed, tails, t, z, sampling = p.detail
        ratios = _pilot_ratios(spark, cm, sampling, _parse_group(cm.group("group")),
                               tables, z, t, catalog=catalog)
        return approx_sql(spark, _within_rewrite(cm, parsed, tails, t, z, ratios),
                          tables, catalog, p.key)
    if route in ("ORDER BY", "LIMIT", "HAVING"):
        return _run_tail(spark, p, tables, catalog)
    if route == "join_rows":
        return _approx_join_rows(spark, p.m, tables, catalog, *p.detail)
    if route == "join3":
        return _alias_join_out(_approx_join3(spark, p.m, tables, catalog, *p.detail), p.m)
    if route == "join":
        return _alias_join_out(_approx_join(spark, p.m, tables, catalog, p.detail), p.m)
    if route.startswith("rollup"):
        return _run_rollup(spark, p, tables, catalog)
    if route == "aliased":
        return _run_aliased(spark, p, tables, catalog)
    if route == "multi_routed":
        return _run_multi_routed(spark, p, tables, catalog)
    if route == "multi_build":
        return _multi_agg(spark, _base_frame(spark, p.m, tables), list(p.aggs), p.group)
    return _run_single(spark, p, tables, catalog)


def _base_frame(spark, m, tables) -> DataFrame:
    """The skeleton statement's FROM table with its WHERE applied."""
    df = _resolve_table(spark, m.group("table"), tables)
    if m.group("where"):
        df = _apply_where(spark, df, m.group("where"), tables, m.group("table"))
    return df


def _run_cte(spark, p: Plan, tables, catalog) -> DataFrame:
    """WITH + approx: each CTE body runs as its own statement (exact bodies
    via pass-through — lazy; approx bodies via approx_sql, eagerly
    checkpointed so the groups-sized estimate frame computes once however
    often the final statement references it), registered as temp views —
    so a later CTE can read an earlier one — then the final statement is
    planned again, now that the views exist (a set operation's type gate
    reads a CTE side's schema; nothing else in the plan depends on the
    views), runs, and the views are dropped."""
    defs, final = p.m
    views = []
    try:
        for name, body in defs:
            if _AGG.search(_mask_literals(body)):
                df = approx_sql(spark, body, tables, catalog, None).localCheckpoint(eager=True)
            else:
                df = _exact_passthrough(spark, body, tables)
            df.createOrReplaceTempView(name)
            views.append(name)
        final_plan = _plan(spark, final, tables, catalog, p.key, p.estimator, p.detail)
        return _run(spark, _checked(final_plan), tables, catalog)
    finally:
        for v in views:
            spark.catalog.dropTempView(v)


def _run_derived(spark, p: Plan, tables, catalog) -> DataFrame:
    """Verdict's A16 recursion: the DERIVED TABLE is computed first and
    registered as the per-statement temp view the planned outer statement
    reads, then dropped (plans are resolved at DataFrame analysis — the view
    is not needed after).

    APPROX-OVER-APPROX (Verdict recursed approximation through nested
    relations): the inner statement is itself evaluated via approx_sql
    (auto-routing/catalog apply to it), eagerly checkpointed — the inner
    result is groups-sized, and the caveat stats below plus the outer
    aggregate must not each re-run the inner build — and the outer
    statement sketches on top of the ESTIMATE frame. The outer bound covers
    only the outer stage's error, so the inner stage's error is surfaced as
    an explicit caveat column: ``inner_rel_err_max`` = the largest relative
    half-width among the inner estimates (for rank-bounded inner results,
    the largest rank error). The composed uncertainty is NOT folded into
    the outer bound in general — the two stages' errors can be in different
    units (value vs rank) — EXCEPT where they provably share units: an
    outer SUM/AVG of an inner ESTIMATE column is linear in its inputs, so
    the inner stage shifts the outer answer by at most Σ|err_i| (SUM) /
    Σ|err_i|/n (AVG) — the perfectly-correlated worst case, hence a
    conservative first-order bound. That case additionally emits
    ``inner_abs_err`` (the propagated inner bound in the outer aggregate's
    units) and ``composed_err_bound`` (outer CI + propagated inner), so
    composition is not left to the reader. Grouped outer statements keep
    the caveat-only form (propagation would need the inner rows regrouped
    per outer key)."""
    head, inner, tail, view = p.m
    if not _AGG.search(_mask_literals(inner)):
        _exact_passthrough(spark, inner, tables).createOrReplaceTempView(view)
        try:
            return _run(spark, p.nested, tables, catalog)
        finally:
            spark.catalog.dropTempView(view)
    inner_df = approx_sql(spark, inner, tables, catalog, None).localCheckpoint(eager=True)
    from pyspark.sql import functions as F

    # VERDICT r5 "what's wrong" #2: the caveat stats are one-row
    # aggregates — compute them with agg() over the checkpointed
    # inner frame instead of materializing the whole frame on the
    # driver (a b23-shaped inner statement has 10⁴–10⁵ groups).
    # ONE small job collects: row count, every relative-error
    # candidate (_rel_err_agg_exprs, pandas-parity NaN guards), the
    # NULL-group-key count (a NULL key would silently UNDERSTATE
    # the composed bound — Spark's equi-join never matches NULL —
    # so NULL keys demote to caveat-only), and the global
    # propagated term when the statement shape composes.
    icols = inner_df.columns
    idts = dict(inner_df.dtypes)
    outer_aggs = [(f.upper(), _split_args(a)) for f, a in _AGG.findall(head)]
    masked_tail = _mask_literals(tail)
    # composition shapes: a bare tail (global reduce), or a tail of
    # exactly [WHERE pred] GROUP BY <one column of the inner frame>
    # (per-group reduce — the propagated term is then computed PER
    # OUTER GROUP from the inner rows and joined back). ORDER
    # BY/LIMIT tails are left caveat-only: the join-back would not
    # preserve the requested ordering.
    m_grp = re.fullmatch(
        r"\s*(?:WHERE\s+.+?\s+)?GROUP\s+BY\s+(\w+)\s*;?\s*",
        masked_tail, re.IGNORECASE | re.DOTALL,
    )
    gcol = m_grp.group(1) if (m_grp is not None and m_grp.group(1) in icols) else None
    global_ok = not re.search(r"GROUP\s+BY", masked_tail, re.IGNORECASE)

    rel_exprs = _rel_err_agg_exprs(icols)
    stat_aggs = [F.count(F.lit(1)).alias("_n")] + [
        e.alias(f"_r{i}") for i, e in enumerate(rel_exprs)
    ]
    if gcol is not None:
        null_key = F.col(gcol).isNull()
        if idts.get(gcol) in ("double", "float"):
            null_key = null_key | F.isnan(F.col(gcol))
        stat_aggs.append(F.sum(null_key.cast("long")).alias("_gnull"))
    compose_fn, err_expr = None, None
    if len(outer_aggs) == 1:
        ofn, oargs = outer_aggs[0]
        # a WHERE tail restricts the outer aggregate to a SUBSET of
        # inner rows. SUM stays conservative (Σ|err_i| over all ≥
        # over any subset) but AVG does not — the filter can select
        # exactly the rows with the largest errors, making the
        # full-frame/per-group mean an UNDER-estimate — so AVG
        # composition is skipped under WHERE (caveat-only, never a
        # too-small bound)
        if ofn == "APPROX_AVG" and re.search(r"\bWHERE\b", masked_tail, re.IGNORECASE):
            ofn = None
        if ofn in ("APPROX_SUM", "APPROX_AVG") and oargs and _IDENT.match(oargs[0]):
            err_expr = _inner_abs_err_expr(icols, oargs[0])
            if err_expr is not None:
                compose_fn = ofn
                prop_agg = (
                    F.sum(err_expr) if ofn == "APPROX_SUM" else F.avg(err_expr)
                )
                stat_aggs.append(prop_agg.alias("_prop"))
    stats = inner_df.agg(*stat_aggs).collect()[0]

    n_inner = int(stats["_n"])
    if n_inner == 0:
        caveat = 0.0
    else:
        rels = [stats[f"_r{i}"] for i in range(len(rel_exprs))]
        rels = [float(v) for v in rels if v is not None]
        caveat = max(rels) if rels else float("nan")

    inner_df.createOrReplaceTempView(view)
    try:
        out = _run(spark, p.nested, tables, catalog)
    finally:
        spark.catalog.dropTempView(view)
    out = out.withColumn("inner_rel_err_max", F.lit(caveat))
    grouped_ok = gcol is not None and int(stats["_gnull"] or 0) == 0
    if compose_fn is not None and n_inner > 0 and (global_ok or grouped_ok):
        ocol = "sum_err" if compose_fn == "APPROX_SUM" else "avg_err"
        if global_ok:
            prop = stats["_prop"]
            if prop is None:  # all-NaN errs: pandas sum→0.0, mean→NaN
                prop = 0.0 if compose_fn == "APPROX_SUM" else float("nan")
            prop = float(prop)
            out = out.withColumn("inner_abs_err", F.lit(prop)).withColumn(
                "composed_err_bound", F.col(ocol) + F.lit(prop)
            )
        else:
            # per-group propagated term: a KB-sized groupBy over the
            # checkpointed inner frame, broadcast-joined back — the
            # full inner frame never reaches the driver
            per_agg = (
                F.sum(err_expr) if compose_fn == "APPROX_SUM" else F.avg(err_expr)
            )
            prop_df = inner_df.groupBy(gcol).agg(per_agg.alias("_inner_abs"))
            if compose_fn == "APPROX_AVG":
                # group whose errs are ALL NaN: pandas mean is NaN —
                # keep NaN (never a silently-small composed bound)
                # and let the join-miss coalesce below cover only
                # truly absent groups with 0.0
                prop_df = prop_df.withColumn(
                    "_inner_abs",
                    F.coalesce(F.col("_inner_abs"), F.lit(float("nan"))),
                )
            out = (
                out.join(F.broadcast(prop_df), gcol, "left")
                .withColumn(
                    "inner_abs_err",
                    F.coalesce(F.col("_inner_abs"), F.lit(0.0)),
                )
                .drop("_inner_abs")
                .withColumn(
                    "composed_err_bound", F.col(ocol) + F.col("inner_abs_err")
                )
            )
    return out


def _run_tail(spark, p: Plan, tables, catalog) -> DataFrame:
    """An ORDER BY / LIMIT / HAVING tail over its body statement's answer.
    HAVING filters the ESTIMATE frame (post-aggregation, like Verdict
    applying it after scale-up)."""
    out = _run(spark, p.nested, tables, catalog)
    if p.route == "LIMIT":
        return out.limit(int(p.m.group("n")))
    if p.route == "HAVING":
        return out.filter(p.m.group("pred"))
    # single-column sketch paths emit the generic 'group' column; let
    # ORDER BY name the user's GROUP BY column anyway
    rename = {}
    gm = re.search(
        r"GROUP\s+BY\s+(\w+)\s*(?:HAVING\b.*)?$",  # a HAVING tail may trail
        p.m.group("body"), re.IGNORECASE | re.DOTALL,
    )
    if gm and gm.group(1) not in out.columns and "group" in out.columns:
        rename[gm.group(1).lower()] = "group"
    out = out.orderBy(*_order_cols(p.m.group("keys"), rename))
    return out.limit(int(p.m.group("n"))) if p.m.group("n") else out


def _run_single(spark, p: Plan, tables, catalog) -> DataFrame:
    """One aggregate over one table: from the sketch set or persisted sample
    the plan picked, else built on the fly over the base table."""
    (fn, args), = p.aggs
    group, where, estimator = p.group, p.m.group("where"), p.estimator
    if p.route == "states":
        # the set's state rows, read on the driver (no Spark job) unless
        # they are over the driver budgets — then the Spark route
        spec = p.detail
        rows = catalog.state_rows(p.key, spec["name"])
        states = catalog.states(p.key) if rows is None else None
        out = _sketch_answer(spark, fn, args, states, spec["name"], spec["kind"], rows)
        return _finish_grouped(out, None, group)
    if p.route == "sample":
        return _run_sample(spark, p, tables, catalog)

    df = _base_frame(spark, p.m, tables)
    if fn in _CATALOG_KINDS:
        df, sp = _sketch_spec(df, fn, args)
        states = build_sketches(df, [sp], group_by=group)
        out = _sketch_answer(spark, fn, args, states, sp.name, sp.kind)
        return _finish_grouped(out, df, group)

    from sketchlib.spark.build import group_key_expr
    from sketchlib.spark.sampling import uniform_sample

    ratio, keep = _sampling_ratio(fn, args), _SAMPLING_COLS[fn]
    if fn in ("APPROX_COVAR", "APPROX_CORR"):
        from sketchlib.spark.sampling import approx_bivariate_uniform

        df, xcol = _materialize_expr(df, args[0])
        df, ycol = _materialize_expr(df, args[1])
        if estimator == "subsample":
            from sketchlib.spark.subsample import (
                subsample_bivariate_from_uniform_sample,
            )

            def _agg(frame, gname):
                return subsample_bivariate_from_uniform_sample(
                    uniform_sample(frame, ratio, 42), gname, xcol, ycol, ratio
                )
        else:
            def _agg(frame, gname):
                return approx_bivariate_uniform(frame, gname, xcol, ycol, ratio)
    else:  # COUNT / SUM / AVG / VARIANCE / STDDEV
        from pyspark.sql import functions as F

        from sketchlib.spark.sampling import approx_agg_uniform

        moments = fn in ("APPROX_VARIANCE", "APPROX_STDDEV")
        if fn == "APPROX_COUNT":
            # pure COUNT: synthesize a numeric column for the shared kernel
            col = "_one"
            df = df.withColumn("_one", F.lit(1.0))
        else:
            df, col = _materialize_expr(df, args[0])
        if estimator == "subsample":
            from sketchlib.spark.subsample import subsample_agg_from_uniform_sample

            def _agg(frame, gname):
                return subsample_agg_from_uniform_sample(
                    uniform_sample(frame, ratio, 42), gname, col, ratio,
                    moments=moments,
                )
        else:
            def _agg(frame, gname):
                return approx_agg_uniform(frame, gname, col, ratio, moments=moments)
    if isinstance(group, (list, tuple)):
        # composite key: aggregate on the kernel's joined string, then
        # split back into the user's columns
        df = df.withColumn("_gkey", group_key_expr(list(group)))
        out = _agg(df, "_gkey")
        out = out.withColumnRenamed("_gkey", "group").select("group", *keep)
        return _finish_grouped(out, df, group)
    out = _agg(df, group)
    return out.select(*([group] if group else []), *keep)


def _run_sample(spark, p: Plan, tables, catalog) -> DataFrame:
    """A sampling aggregate answered from the persisted SAMPLE table the plan
    picked (A5 for APPROX_COUNT/SUM/AVG, the moment aggregates, percentiles
    and the universe COUNT DISTINCT path) — its compatibility already
    checked by ``_sample_refusal``. WHERE is legal here — exactly Verdict's
    behavior of applying the predicate to the scramble scan: filtering
    COMMUTES with row/domain sampling (each surviving row/key was still
    included independently with the registered probability), so the same
    1/p scale-up is unbiased for the filtered population."""
    import json

    from pyspark.sql import functions as F

    (fn, args), = p.aggs
    group, where, estimator, meta = p.group, p.m.group("where"), p.estimator, p.detail
    s = catalog.sample(p.key)
    # subsample b-sizing policy, ONE place for every aggregate below: the
    # registered row count sizes b only when the whole scramble is read —
    # under WHERE a selective predicate can leave ~1 row per block (b sized
    # for the unfiltered table), collapsing the subsample geometry, so the
    # FILTERED sample is counted instead (one extra pass over the p-fraction
    # scramble, never the corpus)
    ss_n = None if where else int(meta["rows_sampled"])
    if where:
        s = _apply_where(spark, s, where, tables, p.m.group("table"))
    if fn == "APPROX_COUNT_DISTINCT":
        col = args[0]
        from sketchlib.spark.sampling import count_distinct_from_universe_sample

        if estimator == "subsample":
            from sketchlib.spark.subsample import (
                subsample_count_distinct_from_universe_sample,
            )

            def _cd(frame, gname):
                return subsample_count_distinct_from_universe_sample(
                    frame, gname, col, meta["ratio"], seed=int(meta["seed"])
                )
        else:
            def _cd(frame, gname):
                return count_distinct_from_universe_sample(
                    frame, col, meta["ratio"], group_by=gname
                )
        if isinstance(group, (list, tuple)):
            s, gcol = _with_gkey(s, group)
            out = _cd(s, gcol).withColumnRenamed(gcol, "group")
            return _finish_grouped(out, s, group)
        return _cd(s, group)
    if fn == "APPROX_PERCENTILE":
        # Verdict's A12 over the scramble: EXACT percentile of the persisted
        # sample rows (the sampling is the approximation). Rank error of an
        # empirical quantile from a Bernoulli(p) sample of n_s rows:
        # se ≈ √(q(1−q)/n_s) in rank terms (CLT for the empirical
        # process), reported at z=1.96.
        s, col = _materialize_expr(s, args[0])
        qs = _percentile_args(args)[0]
        s, gcol = _with_gkey(s, group)
        gsel = [gcol] if gcol else []
        if estimator == "subsample":
            # value-unit quantile CIs — the subsample spread folds the
            # (closed-form-less) density at the quantile into the per-block
            # estimates; rank bounds stay the CLT path's output shape
            from sketchlib.spark.subsample import subsample_percentile_from_uniform_sample

            out = subsample_percentile_from_uniform_sample(
                s, gcol, col, qs, meta["ratio"], n_total=ss_n, seed=int(meta["seed"]),
            )
        else:
            qs_sql = ", ".join(repr(float(q)) for q in qs)
            agg = s.groupBy(*gsel).agg(
                F.expr(f"percentile({col}, array({qs_sql}))").alias("_vals"),
                F.count("*").alias("n_s"),
            )
            qlit = F.array(*[F.lit(float(q)) for q in qs])
            out = (
                agg.select(*gsel, F.posexplode("_vals").alias("_i", "value"), "n_s")
                .withColumn("q", F.element_at(qlit, F.col("_i") + 1))
                .withColumn(
                    "rank_err_bound",
                    F.lit(1.96) * F.sqrt(F.col("q") * (1 - F.col("q")) / F.col("n_s")),
                )
                .select(*gsel, "q", "value", "rank_err_bound")
            )
        if isinstance(group, (list, tuple)):
            out = out.withColumnRenamed("_gkey_sql", "group")
            return _finish_grouped(out, s, group)
        return out

    from sketchlib.spark.sampling import (
        approx_agg_from_uniform_sample,
        approx_bivariate_from_uniform_sample,
    )
    from sketchlib.spark.subsample import (
        subsample_agg_from_uniform_sample,
        subsample_bivariate_from_uniform_sample,
    )

    if fn == "APPROX_COUNT":
        col, s = "_one", s.withColumn("_one", F.lit(1.0))
    else:
        s, col = _materialize_expr(s, args[0])
    bivar = fn in ("APPROX_COVAR", "APPROX_CORR")
    if bivar:
        s, ycol = _materialize_expr(s, args[1])
    moments = fn in ("APPROX_VARIANCE", "APPROX_STDDEV")
    keep = _SAMPLING_COLS[fn]

    def _agg(frame, gname):
        if estimator == "subsample":
            if bivar:
                return subsample_bivariate_from_uniform_sample(
                    frame, gname, col, ycol, meta["ratio"],
                    n_total=ss_n, seed=int(meta["seed"]),
                )
            return subsample_agg_from_uniform_sample(
                frame, gname, col, meta["ratio"], moments=moments,
                n_total=ss_n, seed=int(meta["seed"]),
            )
        if bivar:
            return approx_bivariate_from_uniform_sample(frame, gname, col, ycol, meta["ratio"])
        return approx_agg_from_uniform_sample(frame, gname, col, meta["ratio"], moments=moments)

    if meta["kind"] == "stratified":  # COUNT / SUM / AVG
        from sketchlib.spark.sampling import (
            approx_agg_from_stratified_sample,
            stratified_global_agg,
        )

        fractions = json.loads(meta["fractions_json"])
        if group is None:
            # global totals: per-stratum HT estimates summed, mean via the
            # cross-strata ratio estimator (delta-method CI)
            return stratified_global_agg(s, meta["on_col"], col, fractions).select(*keep)
        out = approx_agg_from_stratified_sample(s, group, col, fractions)
    elif isinstance(group, (list, tuple)):
        # composite key over a persisted scramble: aggregate on the derived
        # key string, split back into native columns
        s, gcol = _with_gkey(s, group)
        out = _agg(s, gcol).withColumnRenamed(gcol, "group").select("group", *keep)
        return _finish_grouped(out, s, group)
    else:
        out = _agg(s, group)
    return out.select(*([group] if group else []), *keep)

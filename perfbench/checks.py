"""Answer checks against the exact oracle, and the sample statistics.

Every check uses the bound the sketch publishes with its answer:

- distinct counts (HLL): ``rse_bound`` / ``*_err`` is one relative standard
  error; an answer passes when it is within ``Z_CHECK`` standard errors.
- top-k (Count-Min): every estimate satisfies exact <= est <= exact + err_bound,
  and every true top-k token whose count beats the (k+1)-th by more than
  err_bound is returned (such a token outranks any token outside the true
  top k under that bound).
- percentiles (KLL/t-digest): the exact normalised rank of the returned value
  is within ``rank_err_bound`` of the requested q (n_tok has ties, so the rank
  of a value is an interval).

A failed check fails the operation that produced the answer.
"""

from __future__ import annotations

import math
import statistics

import numpy as np

Z_CHECK = 4.0
TAIL_MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def median(samples: list[float]) -> float:
    if not samples:
        raise TooFewSamples("median of no samples")
    return float(statistics.median(samples))


def tail_percentile(samples: list[float], q: float) -> float:
    """The q-quantile of ``samples``; refused (TooFewSamples) unless at least
    TAIL_MIN_BEYOND samples lie beyond it."""
    beyond = len(samples) - math.ceil(q * len(samples) - 1e-9)
    if beyond < TAIL_MIN_BEYOND:
        raise TooFewSamples(
            f"p{q * 100:g} of {len(samples)} samples has {beyond} beyond it "
            f"(needs {TAIL_MIN_BEYOND})"
        )
    return float(np.quantile(np.asarray(samples, dtype=np.float64), q, method="linear"))


class Verdict:
    """Outcome of checking one answer: ok flag, failure notes, and the worst
    accuracy figures seen (for the accuracy report)."""

    def __init__(self) -> None:
        self.failures: list[str] = []
        self.figures: dict[str, float] = {}

    @property
    def ok(self) -> bool:
        return not self.failures

    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    def worst(self, name: str, value: float, higher_is_worse: bool = True) -> None:
        cur = self.figures.get(name)
        if cur is None or (value > cur if higher_is_worse else value < cur):
            self.figures[name] = value

    def absorb(self, other: "Verdict") -> None:
        self.failures += other.failures
        for k, v in other.figures.items():
            self.worst(k, v, higher_is_worse=(k != "topk_recall"))


def check_distinct(rows, exact: dict[str, int], est_col="estimate", bound_col="rse_bound") -> Verdict:
    """Per-group distinct counts; ``exact`` maps group -> true count."""
    v = Verdict()
    seen = set()
    for r in rows:
        g = r["group"]
        seen.add(g)
        truth = exact[g]
        rel = abs(r[est_col] - truth) / truth
        v.worst("distinct_rel_err", rel)
        if rel > Z_CHECK * r[bound_col]:
            v.fail(f"distinct {g}: est {r[est_col]:.1f} vs exact {truth} (rse {r[bound_col]})")
    if seen != set(exact):
        v.fail(f"distinct groups {sorted(seen)} != {sorted(exact)}")
    return v


def check_union(row, exact: int, est_col: str) -> Verdict:
    """A whole-table distinct count whose ``<est_col>_err`` is one absolute
    standard error."""
    v = Verdict()
    est, err = row[est_col], row[f"{est_col}_err"]
    v.worst("distinct_rel_err", abs(est - exact) / exact)
    if abs(est - exact) > Z_CHECK * err:
        v.fail(f"union: est {est:.1f} vs exact {exact} (err {err:.1f})")
    return v


def check_topk(rows, token_counts: dict[str, np.ndarray], k: int) -> Verdict:
    """Per-group top-k heavy hitters; ``token_counts`` maps group -> exact
    counts indexed by token id."""
    v = Verdict()
    by_group: dict[str, list] = {}
    for r in rows:
        by_group.setdefault(r["group"], []).append(r)
    if set(by_group) != set(token_counts):
        v.fail(f"topk groups {sorted(by_group)} != {sorted(token_counts)}")
    for g, rs in by_group.items():
        counts = token_counts[g]
        bound = rs[0]["err_bound"]
        for r in rs:
            truth = int(counts[r["token"]])
            if not truth <= r["est_count"] <= truth + bound:
                v.fail(f"topk {g} token {r['token']}: est {r['est_count']} vs exact {truth} (bound {bound})")
        order = np.argsort(-counts, kind="stable")
        top, next_count = order[:k], counts[order[k]]
        got = {int(r["token"]) for r in rs}
        v.worst("topk_recall", len(got & set(top.tolist())) / k, higher_is_worse=False)
        for t in top:
            if counts[t] > next_count + bound and int(t) not in got:
                v.fail(f"topk {g}: token {int(t)} (count {int(counts[t])}) missing")
    return v


def check_percentiles(rows, rank_interval) -> Verdict:
    """Per-group quantiles; ``rank_interval(group, value)`` gives the exact
    normalised rank interval of a value."""
    v = Verdict()
    for r in rows:
        lo, hi = rank_interval(r["group"], r["value"])
        err = max(0.0, lo - r["q"], r["q"] - hi)
        v.worst("quantile_rank_err", err)
        if err > r["rank_err_bound"]:
            v.fail(f"percentile {r['group']} q={r['q']}: value {r['value']} has rank "
                   f"[{lo:.4f}, {hi:.4f}] (bound {r['rank_err_bound']})")
    return v

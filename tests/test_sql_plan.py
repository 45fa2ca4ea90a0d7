"""EXPLAIN reports what execution does: one plan per statement.

Each case is a statement on which EXPLAIN and execution once disagreed.
A refusal case checks that EXPLAIN's ``error`` row carries the exact
ValueError message execution raises; a route case runs the statement with
spies on the catalog's state and sample reads and on base-table
resolution, and checks that EXPLAIN named that route and artifact."""

import numpy as np
import pandas as pd
import pytest

import sketchlib.sql as sql
from sketchlib.spark.catalog import SketchCatalog
from sketchlib.sql import approx_sql, explain_sql

_WOULD_RAISE = " — approx_sql would raise"


@pytest.fixture(scope="module")
def plan_env(spark, tmp_path_factory):
    """A 500-row table ``t`` (g, x, v) and a catalog holding one ungrouped
    sketch set ``s`` with hll(x) and cm(x)."""
    root = tmp_path_factory.mktemp("plan")
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "g": rng.choice(["a", "b"], 500),
        "x": rng.integers(0, 60, 500).astype("int64"),
        "v": rng.normal(10.0, 2.0, 500),
    })
    path = str(root / "t")
    spark.createDataFrame(pdf).write.parquet(path)
    tables = {"t": path}
    cat = SketchCatalog(spark, str(root / "cat"))
    approx_sql(spark, "CREATE SKETCHES s FROM t KINDS hll(x), cm(x)", tables, cat).collect()
    return tables, cat


# (case id, statement, use the catalog, catalog_key, estimator, expected)
_CASES = [
    ("rollup_aliased",
     "SELECT APPROX_TOPK(x, 3) AS tk FROM t GROUP BY ROLLUP (g)",
     False, None, "clt", "raise"),
    ("rollup_bad_k",
     "SELECT APPROX_TOPK(x, 0) FROM t GROUP BY ROLLUP (g)",
     False, None, "clt", "raise"),
    ("rollup_subsample_sketch",
     "SELECT APPROX_COUNT_DISTINCT(x) FROM t GROUP BY ROLLUP (g)",
     False, None, "subsample", "raise"),
    ("plain_bad_k",
     "SELECT APPROX_TOPK(x, 0) FROM t",
     False, None, "clt", "raise"),
    ("duplicate_alias",
     "SELECT APPROX_COUNT_DISTINCT(x) AS a, APPROX_SUM(v, 0.5) AS a FROM t",
     False, None, "clt", "raise"),
    ("cte_collides",
     "WITH t AS (SELECT x FROM t WHERE v > 10) SELECT APPROX_COUNT_DISTINCT(x) FROM t",
     False, None, "clt", "raise"),
    ("bad_estimator",
     "SELECT APPROX_COUNT_DISTINCT(x) FROM t",
     True, None, "bogus", "raise"),
    ("setop_with_key",
     "SELECT APPROX_COUNT_DISTINCT(x) FROM (SELECT x FROM t UNION SELECT x FROM t)",
     True, "s", "clt", "raise"),
    ("derived_with_key",
     "SELECT APPROX_COUNT_DISTINCT(x) FROM (SELECT x FROM t WHERE v > 10)",
     True, "s", "clt", "raise"),
    ("multi_with_topk",
     "SELECT APPROX_COUNT_DISTINCT(x), APPROX_TOPK(x, 3) FROM t",
     True, None, "clt", "raise"),
    ("multi_partly_served",
     "SELECT APPROX_COUNT_DISTINCT(x), APPROX_SUM(v, 0.5) FROM t",
     True, None, "clt", "route"),
    ("hist_alias",
     "SELECT APPROX_HISTOGRAM(v, 4) AS h FROM t",
     False, None, "clt", "raise"),
    ("missing_ratio",
     "SELECT APPROX_SUM(v) FROM t",
     False, None, "clt", "raise"),
    ("multi_missing_ratio",
     "SELECT APPROX_COUNT_DISTINCT(x), APPROX_AVG(v) FROM t",
     False, None, "clt", "raise"),
    ("alias_is_group_column",
     "SELECT APPROX_COUNT_DISTINCT(x) AS g, APPROX_SUM(v, 0.5) FROM t GROUP BY g",
     False, None, "clt", "raise"),
    ("alias_is_other_default",
     "SELECT APPROX_COUNT_DISTINCT(x) AS approx_sum_v, APPROX_SUM(v, 0.5) FROM t",
     False, None, "clt", "raise"),
]


def _explain(spark, stmt, tables, cat, key, estimator):
    return {r["property"]: r["value"] for r in explain_sql(
        spark, stmt, tables, cat, key, estimator=estimator).collect()}


@pytest.mark.parametrize("case", _CASES, ids=[c[0] for c in _CASES])
def test_explain_matches_execution(spark, plan_env, monkeypatch, case):
    _, stmt, use_cat, key, estimator, expect = case
    tables, cat = plan_env
    cat = cat if use_cat else None
    ex = _explain(spark, stmt, tables, cat, key, estimator)
    if expect == "raise":
        with pytest.raises(ValueError) as err:
            approx_sql(spark, stmt, tables, cat, key, estimator=estimator).collect()
        assert ex.get("error") == str(err.value) + _WOULD_RAISE, (ex, str(err.value))
        return

    read = {"states": set(), "samples": set(), "tables": set()}

    def spy(kind, orig, name_arg):
        def wrapped(*a, **kw):
            read[kind].add(a[name_arg])
            return orig(*a, **kw)
        return wrapped

    monkeypatch.setattr(SketchCatalog, "state_rows", spy("states", SketchCatalog.state_rows, 1))
    monkeypatch.setattr(SketchCatalog, "states", spy("states", SketchCatalog.states, 1))
    monkeypatch.setattr(SketchCatalog, "sample", spy("samples", SketchCatalog.sample, 1))
    monkeypatch.setattr(sql, "_resolve_table", spy("tables", sql._resolve_table, 1))
    assert approx_sql(spark, stmt, tables, cat, key, estimator=estimator).collect()
    artifacts = {v for k, v in ex.items() if k.endswith("artifact")}
    on_the_fly = any(v.startswith("on_the_fly") for k, v in ex.items() if k.endswith("route"))
    assert "error" not in ex, ex
    assert artifacts == read["states"] | read["samples"], (ex, read)
    assert on_the_fly == ("t" in read["tables"]), (ex, read)


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


@pytest.fixture(scope="module")
def join_env(spark, plan_env, tmp_path_factory):
    """``t`` joined to a 60-row dimension ``d`` (and its copy ``d2``) on x;
    an unrelated table ``o``; and a catalog of samples that cannot serve
    those joins: a uniform sample of ``o``, a universe sample of ``t`` on
    g (not the join key), and universe samples of ``t`` and ``d`` on x
    with different seeds."""
    root = tmp_path_factory.mktemp("join")
    tables = dict(plan_env[0])
    dim = pd.DataFrame({"x": np.arange(60, dtype="int64"), "w": np.arange(60) % 7})
    for name, pdf in (("d", dim), ("o", dim.rename(columns={"x": "y"}))):
        tables[name] = str(root / name)
        spark.createDataFrame(pdf).write.parquet(tables[name])
    tables["d2"] = tables["d"]
    cat = SketchCatalog(spark, str(root / "cat"))
    for ddl in (
        "CREATE SAMPLE so FROM o KIND uniform RATIO 0.5 SEED 7",
        "CREATE SAMPLE tg FROM t KIND universe RATIO 0.5 ON g SEED 7",
        "CREATE SAMPLE tx FROM t KIND universe RATIO 0.5 ON x SEED 7",
        "CREATE SAMPLE dx FROM d KIND universe RATIO 0.5 ON x SEED 9",
    ):
        approx_sql(spark, ddl, tables, cat).collect()
    return tables, cat


_JOIN2 = "SELECT APPROX_COUNT(0.5) FROM t JOIN d ON t.x = d.x"
_JOIN3 = "SELECT APPROX_COUNT(0.5) FROM t JOIN d ON t.x = d.x JOIN d2 ON d.x = d2.x"

# (case id, statement, catalog_key, the refused artifact makes route = error)
_JOIN_REFUSALS = [
    ("sample_of_neither_side", _JOIN2, "so", True),
    ("universe_off_join_key", _JOIN2, "tg", True),
    ("pair_seed_mismatch", _JOIN2, "tx,dx", True),
    ("three_keys", _JOIN2, "tx,dx,so", True),
    ("unknown_sample", _JOIN2, "nope", True),
    ("join3_universe_fact", _JOIN3, "tx", True),
    ("join3_sample_of_no_table", _JOIN3, "so", True),
    ("join3_unknown_qualifier",
     "SELECT APPROX_COUNT(0.5) FROM t JOIN d ON t.x = z.x JOIN d2 ON d.x = d2.x", None, True),
    ("join3_table_never_joined",
     "SELECT APPROX_COUNT(0.5) FROM t JOIN d ON t.x = d.x JOIN d2 ON t.x = d.x", None, True),
]


@pytest.mark.parametrize("case", _JOIN_REFUSALS, ids=[c[0] for c in _JOIN_REFUSALS])
def test_join_refusals_are_planned(spark, join_env, case):
    """A join whose named sample cannot serve it, or whose ON clauses do
    not chain its tables, is refused by the plan: EXPLAIN shows the
    message execution raises, with the route marked as an error."""
    _, stmt, key, route_error = case
    tables, cat = join_env
    ex = _explain(spark, stmt, tables, cat, key, "clt")
    with pytest.raises(ValueError) as err:
        approx_sql(spark, stmt, tables, cat, key).collect()
    assert ex.get("error") == str(err.value) + _WOULD_RAISE, (ex, str(err.value))
    assert (ex.get("route") == "error" + _WOULD_RAISE) == route_error, ex


_CTE_SETOPS = [
    ("union", "SELECT x FROM a UNION SELECT x FROM t", "union"),
    ("intersect", "SELECT x FROM a INTERSECT SELECT x FROM t", "intersect"),
    # a string side against an integer side: Spark SQL's coercion decides,
    # so execution takes the derived-table path once the view exists
    ("mixed_types", "SELECT CAST(x AS STRING) AS x FROM a UNION SELECT x FROM t", "union"),
]


@pytest.mark.parametrize("case", _CTE_SETOPS, ids=[c[0] for c in _CTE_SETOPS])
def test_cte_setop_over_cte_name(spark, plan_env, case):
    """A set operation whose side reads a CTE is planned before the CTE's
    view exists: EXPLAIN renders it with the type gate left to execution,
    and execution registers the view, plans the final statement again and
    answers it."""
    _, inner, op = case
    tables, _ = plan_env
    stmt = (f"WITH a AS (SELECT x FROM t WHERE v > 10) "
            f"SELECT APPROX_COUNT_DISTINCT(x) FROM ({inner})")
    ex = _explain(spark, stmt, tables, None, None, "clt")
    assert "error" not in ex, ex
    assert ex["final.statement_kind"] == "approx_setop", ex
    assert ex["final.set_operation"] == op, ex
    assert ex["final.type_gate"].startswith("at execution over CTE 'a'"), ex
    est, err = approx_sql(spark, stmt, tables).collect()[0][:2]
    pdf = pd.read_parquet(tables["t"])
    exact = (pdf.loc[pdf.v > 10, "x"].nunique() if op == "intersect" else pdf.x.nunique())
    assert abs(est - exact) <= err + 1.0, (est, err, exact)
    assert not {"a"} & {t.name for t in spark.catalog.listTables()}


def test_setop_scan_resolves_each_side_once(spark, plan_env, monkeypatch):
    """The set-operation scan route reads each side's table once per
    statement: the plan's type gate and the sketch build share the frames
    the plan resolved."""
    tables, _ = plan_env
    tables = dict(tables, t2=tables["t"])
    seen = []
    orig = sql._resolve_table

    def spy(spark_, name, tables_):
        seen.append(name)
        return orig(spark_, name, tables_)

    monkeypatch.setattr(sql, "_resolve_table", spy)
    stmt = ("SELECT APPROX_COUNT_DISTINCT(x) FROM "
            "(SELECT x FROM t WHERE v > 10 INTERSECT SELECT x FROM t2)")
    assert approx_sql(spark, stmt, tables).collect()
    assert sorted(seen) == ["t", "t2"], seen


def test_multi_agg_explain_reads_no_sample(spark, plan_env, tmp_path, monkeypatch):
    """EXPLAIN of a grouped multi-aggregate statement served partly from a
    sketch set and partly from a sample reads the sample's group dtype
    from its parquet footer: no sample frame, no Spark job. Execution reads
    the artifacts EXPLAIN names."""
    tables, _ = plan_env
    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    for ddl in ("CREATE SKETCHES sg FROM t KINDS hll(x) GROUP BY g",
                "CREATE SAMPLE u FROM t KIND uniform RATIO 0.5 SEED 7"):
        approx_sql(spark, ddl, tables, cat).collect()
    assert cat.sample_dtypes("u") == dict(cat.sample("u").dtypes)
    cat.list_rows(), cat.list_sample_rows()
    stmt = "SELECT APPROX_COUNT_DISTINCT(x), APPROX_SUM(v, 0.5) FROM t GROUP BY g"
    sampled = []
    orig = SketchCatalog.sample
    monkeypatch.setattr(SketchCatalog, "sample",
                        lambda self, name: sampled.append(name) or orig(self, name))
    ex, jobs = _jobs_of(spark, lambda: _explain(spark, stmt, tables, cat, None, "clt"))
    assert (ex["agg0.artifact"], ex["agg1.artifact"]) == ("sg", "u"), ex
    assert sampled == [] and jobs == [], (sampled, jobs)
    assert len(approx_sql(spark, stmt, tables, cat).collect()) == 2
    assert sampled == ["u"], sampled


def test_unionall_merge_histogram_alias_is_planned(spark, plan_env, tmp_path):
    """A UNION ALL merge of registered KLL states cannot name a histogram's
    bin frame: the plan refuses the alias, so EXPLAIN shows the message
    execution raises."""
    tables, _ = plan_env
    tables = dict(tables, t2=tables["t"])
    cat = SketchCatalog(spark, str(tmp_path / "cat"))
    approx_sql(spark, "CREATE SKETCHES k FROM t KINDS kll(v)", tables, cat).collect()
    stmt = ("SELECT APPROX_HISTOGRAM(v, 4) AS h FROM "
            "(SELECT v FROM t UNION ALL SELECT v FROM t2)")
    ex = _explain(spark, stmt, tables, cat, None, "clt")
    with pytest.raises(ValueError) as err:
        approx_sql(spark, stmt, tables, cat).collect()
    assert ex.get("error") == str(err.value) + _WOULD_RAISE, (ex, str(err.value))
    assert ex["statement_kind"] == "approx_unionall_merge", ex

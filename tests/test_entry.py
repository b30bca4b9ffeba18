"""Driver-contract smoke: entry(), queries()/oracle_sql() registry shape."""

from __future__ import annotations

import ast
import json
import pathlib
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as e  # noqa: E402

_REPO = pathlib.Path(__file__).resolve().parents[1]
_PKG = "spanner_data_validator_spark"
_PLANS = f"{_PKG}.plans"
# CORRECTNESS_r05.json rows whose whole computation is Spark built-ins
_BUILTIN_ONLY_OK = {"summary_validation", "session_windows"}


def test_entry_runs(spark):
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"range", "match_count", "source_count", "target_count",
            "source_conflict_count", "target_conflict_count"} <= set(df.columns)


def test_registry_consistency():
    qs, oracles = e.queries(), e.oracle_sql()
    assert len(qs) >= 15
    assert set(oracles) <= set(qs)  # every oracle has a query
    # the headline validator ops are oracle-checked
    for name in ["validate_classify", "validate_totals", "validate_report",
                 "ngram_jaccard_pairs", "ann_cosine_topk"]:
        assert name in oracles
    # every CORRECTNESS_r05.json row is still registered
    driver_rows = json.loads((_REPO / "CORRECTNESS_r05.json").read_text())
    assert len(driver_rows) == 50
    assert sorted(set(driver_rows) - set(qs)) == []


def _repo_imports(nodes) -> dict[str, tuple[str, str]]:
    """Local name -> (module, attribute) for each ``from <package...>
    import`` in nodes."""
    return {a.asname or a.name: (n.module, a.name) for n in nodes
            if isinstance(n, ast.ImportFrom) and (n.module or "").startswith(_PKG)
            for a in n.names}


def _repo_code_use() -> dict[str, bool]:
    """Registered query name -> whether its function reaches package code
    outside ``plans/``, directly or through helpers defined in ``plans/``."""
    trees = {f"{_PLANS}.{p.stem}": ast.parse(p.read_text())
             for p in sorted((_REPO / _PKG / "plans").glob("*.py"))}
    defs = {(m, n.name): n for m, t in trees.items() for n in t.body
            if isinstance(n, ast.FunctionDef)}
    top = {m: _repo_imports(t.body) for m, t in trees.items()}

    def reaches(mod, fn, seen) -> bool:
        if (mod, fn.name) in seen:
            return False
        seen.add((mod, fn.name))
        local = _repo_imports(ast.walk(fn))
        for n in ast.walk(fn):
            if not isinstance(n, ast.Name):
                continue
            target = local.get(n.id) or top[mod].get(n.id) or (mod, n.id)
            if not target[0].startswith(_PLANS):
                return True
            helper = defs.get(target)
            if helper is not None and reaches(target[0], helper, seen):
                return True
        return False

    out = {}
    for (mod, _), fn in defs.items():
        for d in fn.decorator_list:
            if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register":
                out[d.args[0].value] = reaches(mod, fn, set())
    return out


def test_every_query_exercises_repo_code():
    """A registered query must run this package's code, not only Spark
    built-ins checked against DuckDB."""
    uses = _repo_code_use()
    assert set(uses) == set(e.queries())  # the scan sees every registration
    builtin_only = {name for name, ok in uses.items() if not ok}
    stray = sorted(builtin_only - _BUILTIN_ONLY_OK)
    assert not stray, f"{len(stray)} queries call no package code: {stray}"
    assert builtin_only == _BUILTIN_ONLY_OK


def test_flagship_tally_identity(spark):
    from pyspark.sql import functions as F

    df = e.entry(spark)
    tot = df.agg(F.sum("match_count").alias("m"),
                 F.sum("source_conflict_count").alias("sc"),
                 F.sum("target_conflict_count").alias("tc"),
                 F.sum("source_count").alias("s"),
                 F.sum("target_count").alias("t")).collect()[0]
    # identity: source_count = match + source_conflict; target likewise
    assert tot["s"] == tot["m"] + tot["sc"]
    assert tot["t"] == tot["m"] + tot["tc"]

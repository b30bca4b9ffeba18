"""Driver-contract smoke: entry(), queries()/oracle_sql() registry shape."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys

_REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

import __spark_entry__ as e  # noqa: E402

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


def test_oracle_run_leaves_no_work_dirs(tmp_path):
    """An oracle ``--only`` run over two queries that stage files, one of
    them returning a lazy read of its work dir, matches both oracles and
    leaves no registry work dir in the temp dir."""
    names = ["stream_hll_window_users", "jsonl_ingest_parity"]
    res = subprocess.run(
        [sys.executable, "tools/check_oracle.py", "--only", ",".join(names)],
        cwd=_REPO, env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stdout[-2000:] + res.stderr[-2000:]
    assert [line.split()[1] for line in res.stdout.splitlines()
            if line.startswith("ok ")] == [f"{n}:" for n in names]
    assert sorted(p.name for p in tmp_path.rglob("sdv_*")) == []


def _repo_imports(nodes) -> dict[str, tuple[str, str]]:
    """Local name -> (module, attribute) for each ``from <package...>
    import`` in nodes."""
    return {a.asname or a.name: (n.module, a.name) for n in nodes
            if isinstance(n, ast.ImportFrom) and (n.module or "").startswith(_PKG)
            for a in n.names}


def _plans_reachability():
    """The top-level functions of ``plans/`` keyed (module, name), and the
    rule ``reaches(module, fn, seen)``: whether ``fn`` reaches package code
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

    return defs, reaches


def _repo_code_use() -> dict[str, bool]:
    """Registered query name -> whether its function reaches package code
    outside ``plans/`` (``_plans_reachability``'s rule)."""
    defs, reaches = _plans_reachability()
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


def test_stream_helpers_call_no_package_code():
    """The shared staging-and-drain helpers call only Spark and the
    standard library: were they to reach package code, every query built on
    them would pass the guard above without calling any operator."""
    defs, reaches = _plans_reachability()
    mod = f"{_PLANS}.streaming_queries"
    for name in ("_file_stream", "_drain", "_drain_parquet"):
        assert not reaches(mod, defs[(mod, name)], set()), name


def test_every_operator_module_has_a_package_caller():
    """Every module under ``operators/`` is imported by another package
    module (the registry's queries included). Tests do not count, and
    neither does ``operators/__init__.py``: a module only its own tests
    import is dead code."""
    ops = f"{_PKG}.operators"
    callers = set()
    for p in (_REPO / _PKG).rglob("*.py"):
        src = ".".join(p.relative_to(_REPO).with_suffix("").parts)
        if src == f"{ops}.__init__":
            continue
        for m, a in _repo_imports(ast.walk(ast.parse(p.read_text()))).values():
            target = f"{m}.{a}" if m == ops else m
            if target.startswith(f"{ops}.") and target != src:
                callers.add(target)
    modules = {f"{ops}.{p.stem}" for p in (_REPO / _PKG / "operators").glob("*.py")
               if p.stem != "__init__"}
    orphans = sorted(modules - callers)
    assert not orphans, f"operator modules with no package caller: {orphans}"


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

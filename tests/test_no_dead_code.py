"""Every top-level function and class of the engine package must have a
real caller outside the tests: a query, the engine itself, a pipeline,
a script, an example or the benchmark. A use is a name, an attribute,
an import or a string constant that is exactly the identifier; a
comment, a docstring, a test or the definition's own body is not.

Definitions kept without such a caller are listed in ``ALLOWLIST``
with the reason they stay. An entry that no longer names a definition,
or whose definition has gained a caller, fails the guard too, so the
list cannot go stale."""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "my_weather_spark")
SKIP_DIRS = {"__pycache__", "spark-warehouse", "tests"}

ALLOWLIST: dict[str, str] = {
    "config.EncryptedEnvVarConfig": "COVERAGE F9: encrypted env-var config twin",
    "pipeline.ScheduledCollector": "COVERAGE T1: scheduled collection twin",
    "streaming.stream_collect": "COVERAGE T1: streaming collection twin",
    "streaming.dedup_late_stream": "COVERAGE T2: late-arrival dedup twin",
    "streaming.burst_flags": "COVERAGE T4: rate-limit burst twin",
    "pipeline.ServiceManager": "COVERAGE T5: service supervision twin",
    "streaming.StreamWatchdog": "COVERAGE T5: stream supervision twin",
    "model.create_store_id": "COVERAGE F3: store-id constructor twin",
    "ops.scalars.camel_to_snake_py": "COVERAGE F1: the property test's reference",
    "ops.timeseries.nan_to_null": "COVERAGE P3: NaN/NULL bridge twin",
    "ops.timeseries.null_to_nan": "COVERAGE P3: NaN/NULL bridge twin",
    "visual.history_plot_frame": "COVERAGE W3/W4: dashboard history plot twin",
    "visual.refreshing_tail": "COVERAGE O3: refreshing dashboard tail twin",
    "tables.clear_table_cache": "invalidates load_table's memoized plans; "
    "the tests rely on it for isolation",
}


def _is_test(filename: str) -> bool:
    return filename.startswith("test_") or filename == "conftest.py"


def _sources(repo: str) -> dict[str, ast.Module]:
    """Parse every non-test ``.py`` file under ``repo``."""
    trees = {}
    for d, dirs, files in os.walk(repo):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x not in SKIP_DIRS]
        for f in files:
            path = os.path.join(d, f)
            if f.endswith(".py") and not _is_test(f):
                with open(path, encoding="utf-8") as fh:
                    trees[path] = ast.parse(fh.read(), path)
    return trees


def _docstrings(tree: ast.Module) -> set[int]:
    nodes = [tree] + [
        n
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]
    return {
        id(n.body[0].value)
        for n in nodes
        if n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }


def _uses(node: ast.AST, docstrings: set[int]):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
            and id(n) not in docstrings
        ):
            yield n.value


def _unreferenced(repo: str, package: str, allowlist: dict[str, str]) -> list[str]:
    """Definitions in ``package`` with no caller and not allowlisted,
    allowlist entries naming no definition, and allowlisted definitions
    that have gained a caller."""
    defs = {}  # qualified name -> (path, name)
    uses = {}  # name -> {(path, enclosing top-level definition)}
    for path, tree in _sources(repo).items():
        docstrings = _docstrings(tree)
        in_package = path.startswith(package + os.sep)
        module = os.path.relpath(path, package)[: -len(".py")].replace(os.sep, ".")
        for node in tree.body:
            owner = None
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                owner = node.name
                if in_package:
                    defs[f"{module}.{node.name}"] = (path, node.name)
            for name in _uses(node, docstrings):
                uses.setdefault(name, set()).add((path, owner))
    report = []
    for qual, (path, name) in sorted(defs.items()):
        called = any(site != (path, name) for site in uses.get(name, ()))
        if called and qual in allowlist:
            report.append(f"{qual}: allowlisted but now has a caller")
        elif not called and qual not in allowlist:
            report.append(f"{qual}: no caller outside tests")
    report += [f"{q}: allowlisted but not defined" for q in allowlist if q not in defs]
    return report


def test_every_engine_definition_is_referenced():
    report = _unreferenced(REPO, PACKAGE, ALLOWLIST)
    assert not report, "\n".join(report)


def test_guard_reports_test_only_docstring_only_and_stale_entries(tmp_path):
    pkg = tmp_path / "pkg"
    (tmp_path / "tests").mkdir()
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "mod.py").write_text(
        "def used():\n    return 1\n\n\n"
        "def tested():\n    return 1\n\n\n"
        "def documented():\n    return documented\n\n\n"
        "def kept():\n    pass\n"
    )
    (pkg / "other.py").write_text(
        '"""Call documented() to get nothing."""\n\n'
        "from pkg.mod import used, kept  # documented\n\nused()\n"
    )
    (tmp_path / "tests" / "test_mod.py").write_text(
        "from pkg.mod import tested, documented\n\n"
        "def test_it():\n    assert tested() == documented()\n"
    )
    report = _unreferenced(
        str(tmp_path),
        str(pkg),
        {"mod.kept": "now has a caller", "mod.gone": "stale entry"},
    )
    assert sorted(report) == [
        "mod.documented: no caller outside tests",
        "mod.gone: allowlisted but not defined",
        "mod.kept: allowlisted but now has a caller",
        "mod.tested: no caller outside tests",
    ]

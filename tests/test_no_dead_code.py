"""Every top-level function and class of the engine package must be
named somewhere in the repo's Python sources outside its own
definition: the queries, the pipeline, a script or at least a test.
Code that nothing names is deleted, not kept "just in case"."""

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "my_weather_spark")
SKIP_DIRS = {"__pycache__", "spark-warehouse"}


def _python_sources() -> dict[str, list[str]]:
    sources = {}
    for d, dirs, files in os.walk(REPO):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x not in SKIP_DIRS]
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    sources[path] = fh.read().splitlines()
    return sources


def _unreferenced(sources):
    for path, lines in sources.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        tree = ast.parse("\n".join(lines))
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            pat = re.compile(rf"\b{re.escape(node.name)}\b")
            span = range(node.lineno, node.end_lineno + 1)
            if not any(
                pat.search(line)
                for other, other_lines in sources.items()
                for no, line in enumerate(other_lines, 1)
                if not (other == path and no in span)
            ):
                yield f"{os.path.relpath(path, REPO)}:{node.name}"


def test_every_engine_definition_is_referenced():
    dead = sorted(_unreferenced(_python_sources()))
    assert not dead, f"unreferenced top-level definitions: {dead}"

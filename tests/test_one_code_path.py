"""Each result has one code path: no module picks its implementation by
what happens to be importable, and a lake table's schema has one source.

A ``try: import lib`` / ``except ImportError`` fallback makes the result
depend on the machine (a library leg nobody here can run next to a
stdlib leg every test runs). The package's decoders and readers are the
stdlib ones only; this guard keeps such a fork from coming back.

A lake table's schema and layout come from its MANIFEST commit record
alone (`sinks/lake.py`). A ``mergeSchema`` read under ``sinks/`` would
be a second, inferred schema source.
"""

from __future__ import annotations

import ast
import pathlib

import udata_datalake_service_spark

_IMPORT_ERRORS = {"ImportError", "ModuleNotFoundError"}


def _caught_names(handler: ast.ExceptHandler) -> set[str]:
    t = handler.type
    elts = t.elts if isinstance(t, ast.Tuple) else [t] if t is not None else []
    return {
        e.id if isinstance(e, ast.Name) else e.attr
        for e in elts
        if isinstance(e, (ast.Name, ast.Attribute))
    }


def test_no_module_forks_on_an_import_error():
    root = pathlib.Path(udata_datalake_service_spark.__file__).parent
    forks = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Try):
                for h in node.handlers:
                    if _caught_names(h) & _IMPORT_ERRORS:
                        forks.append(f"{path.relative_to(root)}:{h.lineno}")
    assert forks == [], f"import-selected code paths: {forks}"


def test_no_sink_reads_with_merge_schema():
    root = pathlib.Path(udata_datalake_service_spark.__file__).parent / "sinks"
    reads = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                name = node.value
            elif isinstance(node, ast.keyword):
                name = node.arg or ""
            else:
                continue
            # Spark matches option names case-insensitively
            if name.lower() == "mergeschema":
                reads.append(f"{path.relative_to(root)}:{node.lineno}")
    assert reads == [], f"mergeSchema reads under sinks/: {reads}"

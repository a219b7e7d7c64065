"""One publish protocol, one owner of the published layout.

``swap_staging`` is defined in ``sinks/files.py`` and called only by the
two sync entry points, ``operators/sync.collect_to_files`` and
``operators/incremental.sync_delta``.  A new module that stages and
swaps its own tables would be a second publish path with its own crash
window.  The ``STAGING_SUFFIX``/``OLD_SUFFIX`` directory names are used
by no module but ``sinks/files.py``, which lists and reads every
generation (``published_tables``, ``read_table``): a module that
matches them itself would be a second owner of the layout.  The SQL
sink has one publish path too: only ``operators/sync.collect_sql``
renders a dialect's ``swap_sql`` and runs it through
``execute_statements``.  Every destination has one file system: the
sink's ``_HadoopFs``, the Hadoop FileSystem ``df.write`` resolved it
to; no module on the sync path lists, renames or deletes a
destination's files through ``os`` or ``shutil``, which see only the
driver's local disk.  Driver rows become a frame one way: on the sync
path and in ``sources/graph.py`` only ``sources/graph.local_frame``
(one Arrow call) and ``read_table``'s empty frame call
``createDataFrame``, and nothing parallelizes a Python list, whose
every read would run Python tasks.  The doc protocol has one decoder:
on the sync path, in the flatten operators and the remote source, only
``sources/graph.py`` parses a doc or its ancestors, and only it spells
the tombstone type.  These scans fail the moment a second path
appears.  No Spark is needed.
"""

from __future__ import annotations

import ast
from collections.abc import Callable
from pathlib import Path

import resotodatalink_spark

PACKAGE = Path(resotodatalink_spark.__file__).parent


def _publish_sites(names: set[str]) -> tuple[set[str], set[str]]:
    """(modules that define one of ``names``, modules that use one), as
    paths relative to the package root.  A use is an import of the name
    or an attribute access ``<module>.<name>``."""
    defines, uses = set(), set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                bound = {node.name}
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                bound = {t.id for t in targets if isinstance(t, ast.Name)}
            else:
                bound = set()
            if bound & names:
                defines.add(rel)
            if isinstance(node, ast.ImportFrom) and {
                a.name for a in node.names
            } & names:
                uses.add(rel)
            if isinstance(node, ast.Attribute) and node.attr in names:
                uses.add(rel)
    return defines, uses


def test_staged_publish_has_one_definition_and_two_callers():
    defines, uses = _publish_sites({"swap_staging"})
    assert defines == {"sinks/files.py"}
    assert uses == {"operators/sync.py", "operators/incremental.py"}


def test_staging_dir_names_are_used_only_by_the_sink():
    defines, uses = _publish_sites({"STAGING_SUFFIX", "OLD_SUFFIX"})
    assert defines == {"sinks/files.py"}
    assert uses == set()


def test_sql_publish_has_one_caller():
    for name, home in (("swap_sql", "sinks/dialects.py"), ("execute_statements", "sinks/jdbc.py")):
        defines, uses = _publish_sites({name})
        assert defines == {home}
        assert uses == {"operators/sync.py"}


# modules on the sync path, and the os/shutil file operations that
# would fork their destination away from the Hadoop FileSystem
SYNC_PATH = ("sinks/", "operators/sync.py", "operators/incremental.py", "streaming/delta_sync.py")
LOCAL_FS_CALLS = {
    "os": {"rename", "replace", "listdir", "remove"},
    "os.path": {"isdir", "exists"},
}


def _local_fs_calls(path: Path) -> list[str]:
    """``shutil.*`` and the ``LOCAL_FS_CALLS`` referenced in ``path``,
    as attributes or imports; ``os.path.join`` string building is not
    a file operation."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Attribute):
            base = ast.unparse(node.value)
            if base == "shutil" or node.attr in LOCAL_FS_CALLS.get(base, ()):
                found.append(f"{base}.{node.attr}")
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            module = getattr(node, "module", None)
            for a in node.names:
                if "shutil" in (module, a.name) or a.name in LOCAL_FS_CALLS.get(module, ()):
                    found.append(f"import {module or a.name}")
    return found


def test_every_destination_has_one_file_system():
    defines, uses = _publish_sites({"_HadoopFs"})
    assert defines == {"sinks/files.py"}
    assert uses == set()
    calls = {
        rel: found
        for path in sorted(PACKAGE.rglob("*.py"))
        if (rel := path.relative_to(PACKAGE).as_posix()).startswith(SYNC_PATH)
        and (found := _local_fs_calls(path))
    }
    assert calls == {}


def _sites(path: Path, match: Callable[[ast.AST], str | None]) -> set[tuple[str, str]]:
    """(innermost enclosing function, ``match(node)``) for every node of
    ``path`` that ``match`` names."""
    found = set()

    def visit(node: ast.AST, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            if (what := match(child)) is not None:
                found.add((fn, what))
            inner = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if inner else fn)

    visit(ast.parse(path.read_text(), filename=str(path)), "<module>")
    return found


def _frame_build(node: ast.AST) -> str | None:
    """``createDataFrame`` or ``parallelize``, referenced as an attribute."""
    if isinstance(node, ast.Attribute) and node.attr in {"createDataFrame", "parallelize"}:
        return node.attr
    return None


def test_driver_rows_have_one_builder():
    builds = {
        (rel, *site)
        for path in sorted(PACKAGE.rglob("*.py"))
        if (rel := path.relative_to(PACKAGE).as_posix()).startswith(
            (*SYNC_PATH, "sources/graph.py")
        )
        for site in _sites(path, _frame_build)
    }
    assert builds == {
        ("sources/graph.py", "local_frame", "createDataFrame"),
        ("sinks/files.py", "read_table", "createDataFrame"),
    }


# every module that reads docs, nodes or ancestors, and the Spark
# functions that decode JSON text
DOC_READERS = (*SYNC_PATH, "operators/flatten.py", "sources/remote.py", "sources/graph.py")
JSON_DECODERS = {"get_json_object", "json_tuple", "from_json"}


def _json_decoder(node: ast.AST) -> str | None:
    """A Spark JSON decoder: ``F.<decoder>``, a decoder imported from
    ``pyspark.sql.functions``, or one called in a SQL string."""
    if isinstance(node, ast.Attribute) and node.attr in JSON_DECODERS:
        return node.attr if ast.unparse(node.value) in {"F", "functions"} else None
    if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql.functions":
        return next((a.name for a in node.names if a.name in JSON_DECODERS), None)
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return next((d for d in JSON_DECODERS if f"{d}(" in node.value), None)
    return None


def _doc_readers() -> list[tuple[str, Path]]:
    return [
        (rel, path)
        for path in sorted(PACKAGE.rglob("*.py"))
        if (rel := path.relative_to(PACKAGE).as_posix()).startswith(DOC_READERS)
    ]


def test_doc_protocol_has_one_decoder():
    """Docs and their ancestors are parsed in ``sources/graph.py`` only,
    each once: ``parse_docs``' one ``json_tuple`` (and the node kind
    from its ``reported``), and ``ancestors``' one ``from_json``.  The
    one other decoder is ``flatten_nodes``' model-typed parse of
    ``reported``.  The tombstone type is spelled in ``graph.py`` only."""
    decodes = {(rel, *site) for rel, path in _doc_readers() for site in _sites(path, _json_decoder)}
    assert decodes == {
        ("sources/graph.py", "parse_docs", "json_tuple"),
        ("sources/graph.py", "parse_docs", "get_json_object"),
        ("sources/graph.py", "ancestors", "from_json"),
        ("operators/flatten.py", "flatten_nodes", "from_json"),
    }
    spelled = {
        rel
        for rel, path in _doc_readers()
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.Constant) and node.value == "deleted"
    }
    assert spelled == {"sources/graph.py"}

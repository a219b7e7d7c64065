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
``execute_statements``.  These scans fail the moment a second path
appears.  No Spark is needed.
"""

from __future__ import annotations

import ast
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

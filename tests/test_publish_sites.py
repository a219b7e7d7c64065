"""One publish protocol: the staged-publish names have one definition and
two callers.

``swap_staging`` and its ``STAGING_SUFFIX``/``OLD_SUFFIX`` directory
names are defined in ``sinks/files.py`` and used only by the two sync
entry points, ``operators/sync.collect_to_files`` and
``operators/incremental.sync_delta``.  A new module that stages and
swaps its own tables would be a second publish path with its own crash
window; this scan fails the moment one appears.  No Spark is needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

import resotodatalink_spark

PUBLISH_NAMES = {"swap_staging", "STAGING_SUFFIX", "OLD_SUFFIX"}
PACKAGE = Path(resotodatalink_spark.__file__).parent


def _publish_sites() -> tuple[set[str], set[str]]:
    """(modules that define a publish name, modules that use one), as
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
            if bound & PUBLISH_NAMES:
                defines.add(rel)
            if isinstance(node, ast.ImportFrom) and {
                a.name for a in node.names
            } & PUBLISH_NAMES:
                uses.add(rel)
            if isinstance(node, ast.Attribute) and node.attr in PUBLISH_NAMES:
                uses.add(rel)
    return defines, uses


def test_staged_publish_has_one_definition_and_two_callers():
    defines, uses = _publish_sites()
    assert defines == {"sinks/files.py"}
    assert uses == {"operators/sync.py", "operators/incremental.py"}

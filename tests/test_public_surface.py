"""Every public name has a use outside the tests.

A name in a package module's ``__all__`` must occur, as a whole word, in at
least one file outside ``tests/``: the package itself, ``tools/``,
``perfbench/``, the bench scripts, ``__spark_entry__.py``, README.md or
COVERAGE.md. Its own definition (the ``def``/``class`` body or top-level
assignment) and its ``__all__`` entry do not count. A name that only tests
reach is dead surface: delete it, or list it in ``EXCEPTIONS`` with the
reason it stays.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "pandera_unified_validator_spark"

EXCEPTIONS = {
    "MEDIA_SCHEMA": "the media-table layout; part of the media-table contract",
    "media_table_schema": "the media-table ValidationSchema; part of the media-table contract",
    "encode_png": "reference encoder that the decode_png round-trip tests compare against",
}


def _searched() -> list[Path]:
    files = [*PKG.rglob("*.py"), *(ROOT / "tools").rglob("*.py")]
    files += [p for p in (ROOT / "perfbench").rglob("*") if p.suffix in (".py", ".md")]
    files += [ROOT / n for n in ("bench.py", "bench_extra.py", "__spark_entry__.py",
                                 "README.md", "COVERAGE.md")]
    return [p for p in files if p.is_file()]


def _own_lines() -> dict[str, set[tuple[Path, int]]]:
    """Public name → the (module, line) pairs that do not count as a use:
    each defining module's ``__all__`` and the name's own top-level
    definition (its whole ``def``/``class`` body or assignment)."""
    out: dict[str, set] = {}
    for mod in sorted(PKG.rglob("*.py")):
        defs: dict[str, ast.stmt] = {}
        for node in ast.parse(mod.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[node.name] = node
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                defs.update((t.id, node) for t in targets if isinstance(t, ast.Name))
        exported = defs.get("__all__")
        if exported is None:
            continue
        for name in ast.literal_eval(exported.value):
            own = out.setdefault(name, set())
            for node in (exported, defs.get(name)):
                if node is not None:
                    own |= {(mod, i) for i in range(node.lineno, node.end_lineno + 1)}
    return out


def _test_only_names() -> set[str]:
    texts = {p: p.read_text(errors="replace").splitlines() for p in _searched()}
    unused = set()
    for name, own in _own_lines().items():
        word = re.compile(rf"\b{re.escape(name)}\b")
        if not any(
            word.search(line)
            for p, lines in texts.items()
            for i, line in enumerate(lines, 1)
            if (p, i) not in own
        ):
            unused.add(name)
    return unused


def test_every_public_name_is_used_outside_tests():
    unused = _test_only_names()
    assert unused - set(EXCEPTIONS) == set(), "public names only tests use"
    # an exception that gained a real use (or was deleted) must leave the list
    assert set(EXCEPTIONS) - unused == set(), "stale EXCEPTIONS entries"

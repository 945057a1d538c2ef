"""Query-registry hygiene: duplicate keys are refused, and every
package module binds or imports each global name it uses."""

from __future__ import annotations

import builtins
import symtable
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "frames_spark"


def test_register_rejects_duplicate_key():
    from frames_spark.queries import ORACLES, QUERIES
    from frames_spark.queries.q01_core_ops import register

    original = QUERIES["q_group_fold"]
    oracle = ORACLES["q_group_fold"]
    try:
        with pytest.raises(ValueError, match="q_group_fold"):
            register("q_group_fold", "SELECT 1")(lambda spark, sf_dir: None)
    finally:
        QUERIES["q_group_fold"] = original
        ORACLES["q_group_fold"] = oracle
    assert QUERIES["q_group_fold"] is original
    assert ORACLES["q_group_fold"] == oracle


def unbound_globals(source: str, filename: str) -> set[str]:
    """Global names ``source`` reads but never binds or imports and
    that are not builtins (pyflakes' undefined-name rule, from the
    symbol table alone)."""
    top = symtable.symtable(source, filename, "exec")
    bound = {
        s.get_name() for s in top.get_symbols() if s.is_assigned() or s.is_imported()
    }
    used: set[str] = set()

    def walk(table: symtable.SymbolTable) -> None:
        for s in table.get_symbols():
            if s.is_referenced() and (table is top or s.is_global()):
                used.add(s.get_name())
        for child in table.get_children():
            walk(child)

    walk(top)
    return {n for n in used - bound if not hasattr(builtins, n)}


def test_unbound_globals_detects_a_missing_import():
    src = "from a import b\n\ndef f():\n    return b(c) + len([])\n"
    assert unbound_globals(src, "m.py") == {"c"}


def test_every_package_module_binds_the_names_it_uses():
    files = sorted(PACKAGE.rglob("*.py"))
    assert len(files) > 50
    missing = {
        str(p.relative_to(PACKAGE.parent)): sorted(names)
        for p in files
        if (names := unbound_globals(p.read_text(), str(p)))
    }
    assert not missing, missing

"""Static guards for moving code between modules (stdlib ``symtable``/``ast``).

A function moved to a module that lacks one of its globals only fails when
it runs; these checks turn that latent ``NameError`` into a collection-time
failure, and catch a merge that silently rebinds a top-level name (a
second ``def test_x`` in one module hides the first test). Both scan
``dbkit_spark/`` and ``tests/``.
"""

from __future__ import annotations

import ast
import builtins
import re
import symtable
from pathlib import Path

TESTS = Path(__file__).resolve().parent
PKG = TESTS.parent / "dbkit_spark"
MODULES = sorted(PKG.rglob("*.py")) + sorted(TESTS.glob("*.py"))
_ALLOWED = set(dir(builtins)) | {"__file__", "__name__"}


def _rel(path: Path) -> str:
    return str(path.relative_to(PKG.parent)) if path.is_relative_to(PKG.parent) else path.name


def _module_bound(table: symtable.SymbolTable) -> set[str]:
    """Names the module binds at top level, plus names a function assigns
    under a ``global`` declaration."""
    bound = {
        s.get_name()
        for s in table.get_symbols()
        if s.is_assigned() or s.is_imported() or s.is_namespace()
    }
    stack = list(table.get_children())
    while stack:
        t = stack.pop()
        bound |= {
            s.get_name()
            for s in t.get_symbols()
            if s.is_declared_global() and s.is_assigned()
        }
        stack.extend(t.get_children())
    return bound


def _unbound_global_reads(path: Path) -> list[str]:
    table = symtable.symtable(path.read_text(), str(path), "exec")
    ok = _module_bound(table) | _ALLOWED
    hits = []
    stack = list(table.get_children())
    while stack:
        t = stack.pop()
        for s in t.get_symbols():
            if s.is_global() and s.is_referenced() and s.get_name() not in ok:
                hits.append(f"{_rel(path)}:{t.get_lineno()} {t.get_name()} reads {s.get_name()}")
        stack.extend(t.get_children())
    return hits


def _top_level_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return [(a.asname or a.name).split(".")[0] for a in stmt.names]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
        targets = [stmt.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _rebound_names(path: Path) -> list[str]:
    seen: dict[str, int] = {}
    hits = []
    for stmt in ast.parse(path.read_text()).body:
        for name in _top_level_names(stmt):
            if name in seen:
                hits.append(f"{_rel(path)}:{stmt.lineno} rebinds {name} (first at line {seen[name]})")
            else:
                seen[name] = stmt.lineno
    return hits


def test_function_globals_are_bound():
    """Every global a function, lambda or method reads in ``dbkit_spark/``
    or ``tests/`` is bound at the module's top level, imported there, or a
    builtin."""
    assert [h for p in MODULES for h in _unbound_global_reads(p)] == []


def test_no_top_level_name_bound_twice():
    assert [h for p in MODULES for h in _rebound_names(p)] == []


def test_no_round_named_query_modules():
    pattern = re.compile(r"(extended\d*|roadmap\d+)\.py")
    names = [p.name for p in (PKG / "queries").glob("*.py")]
    assert [n for n in names if pattern.fullmatch(n)] == []


def test_multimodal_decode_fallback_and_pcm_shift_written_once():
    """The multimodal decoders share one degradation branch (the
    ``_decode_rows`` loop) and one 16-bit-domain PCM normalizer."""
    text = "".join(
        (PKG / "llm" / name).read_text()
        for name in ("multimodal.py", "audio.py", "video.py")
    )
    assert text.count("except (NotImplementedError, ValueError)") == 1
    assert text.count("{8: -8, 16: 0, 24: 8, 32: 16}") == 1


def test_mlmetrics_rank_kernels_written_once():
    """The statistical tests share one average-rank window, one
    Poisson-weight ladder and one replicate explode."""
    text = (PKG / "operators" / "mlmetrics.py").read_text()
    assert text.count("F.rank()") == 1
    assert text.count("for k in reversed(range(len(thresholds)))") == 1
    assert text.count("F.explode(F.sequence(F.lit(1), F.lit(n_replicates)))") == 1


def test_drift_two_sample_kernels_written_once():
    """The drift monitors count two samples with one tagged union (no
    ``full_outer`` join), and the batch and streaming CUSUM share one
    recursion step."""
    drift = (PKG / "operators" / "drift.py").read_text()
    assert "full_outer" not in drift
    text = drift + (PKG / "streaming" / "cusum.py").read_text()
    assert len(re.findall(r"max\(0\.0, *s\w* *[+-] *z", text)) == 2  # s+ and s-, once


def test_checks_catch_injected_defects(tmp_path):
    """The two scanners flag an undefined name read in a lambda and in a
    method, and a second top-level binding."""
    bad = tmp_path / "bad.py"
    bad.write_text(
        "import os\n"
        "f = lambda: missing_in_lambda\n"
        "class C:\n"
        "    def m(self):\n"
        "        return os.sep + missing_in_method\n"
        "def g():\n"
        "    return 1\n"
        "g = 2\n"
    )
    reads = " ".join(_unbound_global_reads(bad))
    assert "missing_in_lambda" in reads and "missing_in_method" in reads
    assert "os" not in reads.split()
    assert _rebound_names(bad) == ["bad.py:8 rebinds g (first at line 6)"]

"""Static guards for moving code between modules (stdlib ``symtable``/``ast``).

A function moved to a module that lacks one of its globals only fails when
it runs; these checks turn that latent ``NameError`` into a collection-time
failure, and catch a merge that silently rebinds a top-level name (a
second ``def test_x`` in one module hides the first test). Both scan
``dbkit_spark/`` and ``tests/``; the re-import check scans ``dbkit_spark/``.
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


def _imported(stmt: ast.Import | ast.ImportFrom) -> list[tuple[str, tuple]]:
    """(bound name, source) for each name an import statement binds."""
    if isinstance(stmt, ast.Import):
        # ``import a.b`` binds the package ``a``; ``import a.b as c`` binds ``a.b``
        return [
            ((a.asname or a.name).split(".")[0], a.name if a.asname else a.name.split(".")[0])
            for a in stmt.names
        ]
    return [(a.asname or a.name, (stmt.level, stmt.module, a.name)) for a in stmt.names]


def _local_reimports(path: Path) -> list[str]:
    """Imports inside a function or class that bind a name the module
    already imports at top level from the same source."""
    tree = ast.parse(path.read_text())
    top = {
        n: src
        for stmt in tree.body
        if isinstance(stmt, (ast.Import, ast.ImportFrom))
        for n, src in _imported(stmt)
    }
    return [
        f"{_rel(path)}:{node.lineno} re-imports {n}"
        for stmt in tree.body
        if not isinstance(stmt, (ast.Import, ast.ImportFrom))
        for node in ast.walk(stmt)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for n, src in _imported(node)
        if top.get(n) == src
    ]


def test_function_globals_are_bound():
    """Every global a function, lambda or method reads in ``dbkit_spark/``
    or ``tests/`` is bound at the module's top level, imported there, or a
    builtin."""
    assert [h for p in MODULES for h in _unbound_global_reads(p)] == []


def test_no_top_level_name_bound_twice():
    assert [h for p in MODULES for h in _rebound_names(p)] == []


def test_no_function_reimports_a_module_import():
    assert [h for p in sorted(PKG.rglob("*.py")) for h in _local_reimports(p)] == []


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


def test_dedup_candidate_kernels_written_once():
    """The near-dup operators share one same-key self-join, one shingle
    image, and release their caches through the one
    checkpoint-then-release helper."""
    llm = PKG / "llm"
    joins = "".join((llm / n).read_text() for n in ("dedup.py", "multimodal.py"))
    assert joins.count('F.col("doc_a") < F.col("doc_b")') == 1
    assert (llm / "dedup.py").read_text().count("F.xxhash64(s)") == 1
    for path in (llm / "dedup.py", llm / "similarity.py", PKG / "operators" / "assoc.py"):
        assert "localCheckpoint(eager=True)" not in path.read_text(), path.name


def test_graph_edge_model_written_once():
    """The graph and clustering operators share one stub list (the
    reversed select), one degree count over stubs, and one singleton
    relabel (coalesce of the label to the key)."""
    text = "".join(
        (PKG / rel).read_text()
        for rel in ("llm/cluster.py", "operators/graph.py", "operators/identity.py", "queries/similarity.py")
    )
    rules = {
        "reversed stub": r'F\.col\((b|b_col|"b"|"dst")\)\.alias\("src"\),\s*F\.col\((a|a_col|"a"|"src")\)\.alias\("dst"\)',
        "degree count": r'F\.count\(("\*"|F\.lit\(1\))\)(\.cast\("long"\))?\.alias\("_?deg(ree)?"\)',
        "singleton coalesce": r'F\.coalesce\(\s*"(cluster_id|_lab|_new)",\s*F\.col\(',
    }
    for rule, pattern in rules.items():
        assert len(re.findall(pattern, text)) == 1, rule


def _match_sites(pattern: str) -> list[str]:
    """``file:function`` (innermost enclosing def) of every match of
    ``pattern`` in ``dbkit_spark/``."""
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text()
        defs = [
            (n.end_lineno - n.lineno, n.lineno, n.end_lineno, n.name)
            for n in ast.walk(ast.parse(text))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for m in re.finditer(pattern, text):
            line = text.count("\n", 0, m.start()) + 1
            inner = min((d for d in defs if d[1] <= line <= d[2]), default=None)
            sites.append(f"{_rel(path)}:{inner[3] if inner else '<module>'}")
    return sorted(sites)


def test_salted_draw_written_once():
    """Every ``key:salt`` md5 draw goes through ``functions/portable_hash``:
    ``salted`` builds each salted key from a part list (so the inline
    ``concat(cast(key), ':salt')`` form appears nowhere, builder
    included); md5 hex digits become an integer only in ``token_hash24``,
    ``u32_md5`` and the two 12-digit keys of dedup and reconcile; the
    midpoint uniform and the per-group md5 rank are written once; and
    the samplers share one quota join and one threshold filter, with no
    md5 call of their own."""
    assert _match_sites(r'\.cast\("string"\),\s*F\.lit\(f?":') == []
    assert _match_sites(r"F\.conv\(\s*F\.substring\(\s*F\.md5\(") == [
        "dbkit_spark/functions/portable_hash.py:u32_md5",
        "dbkit_spark/functions/text.py:token_hash24",
        "dbkit_spark/llm/dedup.py:minhash_signatures",
        "dbkit_spark/operators/reconcile.py:row_fingerprint",
    ]
    assert _match_sites(r"F\.lit\(0\.5\)\)\s*/\s*F\.lit\(float\(16\s*\*\*\s*6\)\)") == [
        "dbkit_spark/functions/text.py:_hash24_u01"
    ]
    assert _match_sites(r"orderBy\(\s*F\.md5\(") == [
        "dbkit_spark/functions/portable_hash.py:md5_rank"
    ]
    sampling = (PKG / "llm" / "sampling.py").read_text()
    assert "F.md5(" not in sampling
    assert sampling.count('<= F.col("_take")') == 1
    assert sampling.count("keep = cond if keep is None else keep | cond") == 1


def test_one_cache_owner():
    """Every cache in the package is taken and released by one helper,
    ``operators.iterate.held``: ``.persist(`` and ``.unpersist(`` each
    appear once, both inside it, and neither a per-call persist switch
    nor a cache left for the caller to release remains."""
    assert _match_sites(r"\.persist\(") == ["dbkit_spark/operators/iterate.py:held"]
    assert _match_sites(r"\.unpersist\(") == ["dbkit_spark/operators/iterate.py:held"]
    assert _match_sites(r"persist_shingles") == []
    assert _match_sites(r"(?i)caller\s+owns") == []


def test_one_stream_path():
    """Every availableNow query is started, awaited and stopped by one
    driver (``streaming/runner._drive``), the ``events.ts`` nanos rule is
    written once (``sources/readers._load_fixture``, shared by the batch
    and stream readers), and the click⋈view interval join is built once
    (``queries/events._click_view_join``)."""
    assert _match_sites(r"awaitTermination\(") == ["dbkit_spark/streaming/runner.py:_drive"]
    assert _match_sites(r"ts div 1000") == ["dbkit_spark/sources/readers.py:_load_fixture"]
    assert _match_sites(r'withWatermark\("c_ts"') == [
        "dbkit_spark/queries/events.py:_click_view_join"
    ]
    assert _match_sites(r"read_events_stream") == []


def test_k_sample_kernels_written_once():
    """The one-way tests share one between/within decomposition
    (``mlmetrics._oneway``; ``cluster_design_effect`` keeps its own
    double-cast path), the blocked rank tests share one squared-deviation
    reduce (``mlmetrics._sq_dev_reduce``), and the k-system queries build
    their long frame once (``evaluation._long_frame``)."""
    assert _match_sites(r"\bssw = F\.col") == [
        "dbkit_spark/operators/mlmetrics.py:_oneway",
        "dbkit_spark/operators/mlmetrics.py:cluster_design_effect",
    ]
    assert _match_sites(r"F\.sum\(F\.round\(dev \* dev, 9\)") == [
        "dbkit_spark/operators/mlmetrics.py:_sq_dev_reduce"
    ]
    evaluation = (PKG / "queries" / "evaluation.py").read_text()
    assert evaluation.count("for den in _DENS") == 1


def test_doc_module_pointers_exist():
    """Every ``dbkit_spark/….py`` path that README.md, SCALE.md and
    SURVEY.md cite names a module that exists."""
    root = PKG.parent
    cited = {
        (doc, path)
        for doc in ("README.md", "SCALE.md", "SURVEY.md")
        for path in re.findall(r"dbkit_spark/[\w/]+\.py", (root / doc).read_text())
    }
    assert cited
    assert sorted(c for c in cited if not (root / c[1]).is_file()) == []


def test_checks_catch_injected_defects(tmp_path):
    """The scanners flag an undefined name read in a lambda and in a
    method, a second top-level binding, and a function that re-imports
    a module-level import."""
    bad = tmp_path / "bad.py"
    bad.write_text(
        "import os\n"
        "from pyspark.sql import Window\n"
        "f = lambda: missing_in_lambda\n"
        "class C:\n"
        "    def m(self):\n"
        "        return os.sep + missing_in_method\n"
        "def g():\n"
        "    from pyspark.sql import Window, functions\n"
        "    import os.path\n"
        "    return 1\n"
        "g = 2\n"
    )
    reads = " ".join(_unbound_global_reads(bad))
    assert "missing_in_lambda" in reads and "missing_in_method" in reads
    assert "os" not in reads.split()
    assert _rebound_names(bad) == ["bad.py:11 rebinds g (first at line 7)"]
    assert _local_reimports(bad) == ["bad.py:8 re-imports Window", "bad.py:9 re-imports os"]

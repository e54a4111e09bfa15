"""Docs must not drift from the code: README's driver-contract counts
are derived from __spark_entry__ (they were hand-edited and drifted in
two consecutive rounds)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_readme_counts_match_driver_contract():
    proc = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "update_doc_counts.py"), "--check"],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_no_row_at_a_time_python_udfs():
    """SURVEY.md §7 risk 4: every Python escape hatch in the package
    must be Arrow-vectorized (pandas_udf / applyInPandas / mapInPandas
    / applyInPandasWithState) — a row-at-a-time F.udf() in the hot
    path is the 10-100x slow path this engine bans. Static source
    scan; fails on any `F.udf(` / `udf(` that is not `pandas_udf(`."""
    import re
    from pathlib import Path

    # matches `X.udf(` (F.udf / functions.udf) and bare `udf(`, but not
    # `pandas_udf(` / `my_thing_udf(` (call sites of local vectorized
    # helpers) — self-tested below so the guard can't silently rot
    pat = re.compile(r"\.udf\(|(?<![a-zA-Z_.])udf\(")
    assert pat.search("x = F.udf(lambda: 1)")
    assert pat.search("from pyspark.sql.functions import udf\nudf(f)")
    assert not pat.search("@F.pandas_udf('double')")
    assert not pat.search("role_udf('conv_idx')")

    pkg = Path(__file__).resolve().parent.parent / "oscar_tools_spark"
    offenders = []
    for f in pkg.rglob("*.py"):
        src = f.read_text()
        for m in pat.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            offenders.append(f"{f.name}:{line}")
    assert not offenders, f"row-at-a-time udf() found: {offenders}"


def test_no_nondeterministic_ordering_or_rng():
    """SURVEY.md §7 risk 6 + the determinism contract: ordering must
    come from (conv_id, turn_idx)-style stable keys and randomness
    from seeded md5 draws — monotonically_increasing_id (partition-
    layout-dependent) and F.rand/F.randn (re-drawn per task attempt,
    breaking retries and the oracle gate) are banned in the package.
    AST-based (actual CALL nodes — docstrings legitimately say
    'no rand()' and must not trip the guard), so both the F.rand and
    directly-imported rand spellings are caught."""
    import ast
    from pathlib import Path

    banned = {"rand", "randn", "monotonically_increasing_id"}

    def offenders_in(src: str, name: str) -> list[str]:
        out = []
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Call):
                fn = node.func
                called = (
                    fn.id if isinstance(fn, ast.Name)
                    else fn.attr if isinstance(fn, ast.Attribute)
                    else None
                )
                if called in banned:
                    out.append(f"{name}:{node.lineno}:{called}")
        return out

    # self-test: the guard must catch every spelling
    assert offenders_in("F.rand(42)", "x")
    assert offenders_in("from pyspark.sql.functions import rand\nrand(1)", "x")
    assert offenders_in("functions.randn()", "x")
    assert not offenders_in('"""docs say no rand() here"""', "x")
    assert not offenders_in("rng = default_rng(seed)", "x")

    pkg = Path(__file__).resolve().parent.parent / "oscar_tools_spark"
    found = []
    for f in pkg.rglob("*.py"):
        found += offenders_in(f.read_text(), f.name)
    assert not found, f"nondeterministic construct found: {found}"


def test_no_unused_imports():
    """Every import in the package and the jobs is used. A module-level
    import counts as used if any code in the module names it; an import
    inside a function counts only if that function (or a closure in it)
    names it. String annotations are read as code; ``__future__`` is
    exempt. AST-based, so a name that only a docstring or comment
    mentions does not count."""
    import ast

    scope_types = (ast.FunctionDef, ast.AsyncFunctionDef)

    def names_in(node) -> set[str]:
        found = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                found.add(n.id)
            # an argument, return or variable annotation; a string one
            # ("np.ndarray") names what it parses to
            ann = getattr(n, "annotation", None) or getattr(n, "returns", None)
            for c in ast.walk(ann) if ann is not None else ():
                if isinstance(c, ast.Constant) and isinstance(c.value, str):
                    found |= names_in(ast.parse(c.value, mode="eval"))
        return found

    def unused_in(src: str, name: str) -> list[str]:
        tree = ast.parse(src)
        out = []

        def visit(node, used):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, scope_types):
                    visit(child, names_in(child))
                    continue
                if isinstance(child, ast.ImportFrom) and child.module == "__future__":
                    continue
                if isinstance(child, (ast.Import, ast.ImportFrom)):
                    for alias in child.names:
                        if alias.name == "*":
                            continue
                        bound = alias.asname or alias.name.split(".")[0]
                        if bound not in used:
                            out.append(f"{name}:{child.lineno}:{bound}")
                visit(child, used)

        visit(tree, names_in(tree))
        return out

    # self-test: each scope rule, both ways
    assert unused_in("import os\n", "x") == ["x:1:os"]
    assert not unused_in("import os.path\nos.sep\n", "x")
    assert not unused_in("from a import b as c\nc()\n", "x")
    assert not unused_in('import numpy as np\ndef f() -> "np.ndarray": pass\n', "x")
    assert not unused_in('import numpy as np\ndef f(a: "np.ndarray"): pass\n', "x")
    assert not unused_in("from __future__ import annotations\n", "x")
    assert unused_in('from a import b\n"""b"""\n', "x") == ["x:1:b"]
    assert unused_in("def f():\n    import os\n\ndef g():\n    os.sep\n", "x") == ["x:2:os"]
    assert not unused_in("def f():\n    import os\n    return lambda: os.sep\n", "x")
    assert not unused_in("import os\ndef f():\n    return os.sep\n", "x")

    found = []
    for d in ("oscar_tools_spark", "jobs"):
        for f in sorted((REPO / d).rglob("*.py")):
            found += unused_in(f.read_text(), str(f.relative_to(REPO)))
    assert not found, f"unused imports: {found}"

"""Doc-drift checks: numbers quoted in the prose must be DERIVED from
the live registry, not hand-maintained (round-4 VERDICT flagged stale
counts in USAGE.md)."""

from __future__ import annotations

import re
from pathlib import Path

from alpaca_pyspark_spark.queries import ORACLE, QUERIES

REPO = Path(__file__).resolve().parents[1]


def test_usage_registry_counts():
    """USAGE.md's 'ids q01–qNN, X of Y oracle-paired' sentence must
    match the registry exactly."""
    text = (REPO / "USAGE.md").read_text()
    m = re.search(r"ids q01–q(\d+), (\d+) of (\d+) oracle-paired", text)
    assert m, "USAGE.md registry-count sentence not found"
    max_id = max(int(re.match(r"q(\d+)", k).group(1)) for k in QUERIES)
    assert int(m.group(1)) == max_id, (m.group(1), max_id)
    assert int(m.group(2)) == len(ORACLE), (m.group(2), len(ORACLE))
    assert int(m.group(3)) == len(QUERIES), (m.group(3), len(QUERIES))


def test_survey_status_note_counts():
    """SURVEY.md §2G's round-status note must track the live registry
    (VERDICT r7 item 7: keep it pinned as the registry grows)."""
    text = (REPO / "SURVEY.md").read_text()
    m = re.search(
        r"(\d+)\s*\n?> queries q01–q(\d+), (\d+) oracle-paired", text
    )
    assert m, "SURVEY.md status-note sentence not found"
    max_id = max(int(re.match(r"q(\d+)", k).group(1)) for k in QUERIES)
    assert int(m.group(1)) == len(QUERIES), (m.group(1), len(QUERIES))
    assert int(m.group(2)) == max_id, (m.group(2), max_id)
    assert int(m.group(3)) == len(ORACLE), (m.group(3), len(ORACLE))


def test_readme_registry_count():
    """README's 'declared query set (N entries, q01-qMM)' line must
    track the live registry."""
    text = (REPO / "README.md").read_text()
    m = re.search(r"declared query set \((\d+) entries, q01-q(\d+)\)", text)
    assert m, "README.md registry-count line not found"
    max_id = max(int(re.match(r"q(\d+)", k).group(1)) for k in QUERIES)
    assert int(m.group(1)) == len(QUERIES), (m.group(1), len(QUERIES))
    assert int(m.group(2)) == max_id, (m.group(2), max_id)


def test_oracle_is_subset_of_queries():
    assert set(ORACLE) <= set(QUERIES)


def test_round_artifacts_cover_live_registry():
    """The committed round artifacts must not go stale against the
    registry (round-4 VERDICT flagged ORACLE_LOCAL missing the two
    newest queries): the LATEST ORACLE_LOCAL_r*.json and
    BENCH_DETAIL.json must record exactly the live query set.
    Intentionally fails between adding a query and regenerating the
    artifacts — regeneration is part of 'done'."""
    import json

    locals_ = sorted(
        REPO.glob("ORACLE_LOCAL_r*.json"),
        key=lambda p: int(re.search(r"_r(\d+)", p.name).group(1)),
    )
    assert locals_, "no ORACLE_LOCAL_r*.json committed"
    oracle_local = json.loads(locals_[-1].read_text())
    assert set(oracle_local) == set(QUERIES), (
        f"{locals_[-1].name} stale: "
        f"missing={sorted(set(QUERIES) - set(oracle_local))[:5]} "
        f"extra={sorted(set(oracle_local) - set(QUERIES))[:5]}"
    )
    bench = json.loads((REPO / "BENCH_DETAIL.json").read_text())["queries"]
    assert set(bench) == set(QUERIES), (
        f"BENCH_DETAIL.json stale: "
        f"missing={sorted(set(QUERIES) - set(bench))[:5]} "
        f"extra={sorted(set(bench) - set(QUERIES))[:5]}"
    )


def test_rotation_ledger_consistency():
    """ROTATION.md's staged prefixes must stay real: every named qid
    exists in the registry, the staged round-10 prefix is exactly 50
    unique entries, and the round-11 remainder is disjoint from it."""
    text = (REPO / "ROTATION.md").read_text()
    blocks = re.findall(r"```\n(.*?)```", text, re.S)
    assert len(blocks) == 2, "expected two staged-prefix code blocks"
    qids = [re.findall(r"q\d+[a-z0-9_]*", b) for b in blocks]
    r10, r11 = qids
    assert len(r10) == 50 and len(set(r10)) == 50, len(r10)
    assert len(r11) == 20 and len(set(r11)) == 20, len(r11)
    assert not set(r10) & set(r11)
    unknown = (set(r10) | set(r11)) - set(QUERIES)
    assert not unknown, sorted(unknown)


USER_DOCS = ("README.md", "USAGE.md", "SCALE.md", "COVERAGE.md",
             ".claude/skills/verify/SKILL.md")


def test_cited_artifacts_exist():
    """Every A/B artifact (``AB_*.json``) or tool (``tools/*.py``) the
    engine's comments or the user docs cite must be committed."""
    cited = {
        (path.relative_to(REPO), m)
        for path in [*(REPO / "alpaca_pyspark_spark").rglob("*.py"),
                     *(REPO / d for d in USER_DOCS)]
        for m in re.findall(r"\b(AB_\w+\.json|tools/\w+\.py)", path.read_text())
    }
    missing = sorted((str(p), m) for p, m in cited if not (REPO / m).exists())
    assert not missing, missing


def test_cited_engine_names_resolve():
    """A backticked dotted name in the user docs whose first part is
    the basename of an engine module (``dispatch.table_rows``,
    ``operators.sessionize``) must resolve: each later part is an
    attribute of what precedes it, or a submodule of that package.
    File names (``tables.py``) are not dotted names."""
    import importlib
    import pkgutil

    import alpaca_pyspark_spark as pkg

    modules = {pkg.__name__: [pkg.__name__]}
    for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        modules.setdefault(m.name.rsplit(".", 1)[-1], []).append(m.name)

    def resolves(module, parts):
        obj = importlib.import_module(module)
        for part in parts:
            if not hasattr(obj, part) and hasattr(obj, "__path__"):
                try:
                    importlib.import_module(f"{obj.__name__}.{part}")
                except ModuleNotFoundError:
                    return False
            if not hasattr(obj, part):
                return False
            obj = getattr(obj, part)
        return True

    unresolved = []
    for d in USER_DOCS:
        for n, line in enumerate((REPO / d).read_text().splitlines(), 1):
            for span in re.findall(r"`([^`]+)`", line):
                head, *parts = span.split(".")
                if (
                    re.fullmatch(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)+", span)
                    and head in modules
                    and parts[-1] not in ("py", "json", "md", "parquet")
                    and not any(resolves(m, parts) for m in modules[head])
                ):
                    unresolved.append(f"{d}:{n}: {span}")
    assert not unresolved, unresolved


def test_engine_defs_have_a_caller():
    """Every top-level function or class of the engine is named
    somewhere in non-test code: the package itself, the driver entry,
    the bench, ``perfbench/`` or ``tools/``.  A name only tests reach
    is dead code.  The check modules (``canon.py``, ``contracts.py``,
    ``plans/``) are exempt, and so are the two operators tests keep as
    reference implementations."""
    import ast

    pkg = REPO / "alpaca_pyspark_spark"
    reference_impls = {"brute_force_topk", "all_pairs_above_arrow"}
    defs = {
        (str(p.relative_to(REPO)), node.name)
        for p in pkg.rglob("*.py")
        if p.relative_to(pkg).parts[0] != "plans"
        and p.name not in ("canon.py", "contracts.py")
        for node in ast.parse(p.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }
    sources = [
        *pkg.rglob("*.py"),
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        *(REPO / "perfbench").rglob("*.py"),
        *(REPO / "tools").rglob("*.py"),
    ]
    named = set()
    for p in sources:
        for n in ast.walk(ast.parse(p.read_text())):
            if isinstance(n, ast.Name):
                named.add(n.id)
            elif isinstance(n, ast.Attribute):
                named.add(n.attr)
            elif isinstance(n, ast.alias):
                named.add(n.name.rsplit(".", 1)[-1])
    unreached = sorted(
        (path, name)
        for path, name in defs
        if name not in named and name not in reference_impls
    )
    assert not unreached, unreached


def test_no_unused_imports():
    """Every name the engine or the tests import is used in its file.
    Names inside string annotations (``Iterator["pd.DataFrame"]``)
    count as used; ``from __future__`` imports and imports marked
    ``# noqa: F401`` (kept for their side effect) are exempt."""
    import ast

    def names(tree):
        return {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}

    unused = []
    for p in [
        *(REPO / "alpaca_pyspark_spark").rglob("*.py"),
        *(REPO / "tests").rglob("*.py"),
    ]:
        text = p.read_text()
        lines = text.splitlines()
        tree = ast.parse(text)
        used = names(tree)
        for node in ast.walk(tree):
            for attr in ("annotation", "returns"):
                ann = getattr(node, attr, None)
                for c in ast.walk(ann) if ann else ():
                    if isinstance(c, ast.Constant) and isinstance(c.value, str):
                        used |= names(ast.parse(c.value, mode="eval"))
        unused += [
            (str(p.relative_to(REPO)), n.lineno, name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.Import, ast.ImportFrom))
            and getattr(n, "module", None) != "__future__"
            and "noqa: F401" not in lines[n.lineno - 1]
            for name in (a.asname or a.name.split(".")[0] for a in n.names)
            if name not in used
        ]
    assert not unused, sorted(unused)

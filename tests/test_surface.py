"""The supported surface, Spark-free: the `__spark_entry__` query
registry builds with its pinned query/oracle counts, and every module
at the top level and under engine/, jobs/, scripts/ and ingestbench/
is statically reachable from a supported entry point — a module
nothing reaches is dead code to delete, not to maintain."""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]

# the ingest system (batch, stream, compaction of its tables), the
# training-corpus and link-graph jobs that remain, the query registry,
# the benchmark, and the scripts the golden/oracle workflow and the
# tests run
ENTRY_POINTS = (
    "jobs.ingest",
    "jobs.stream",
    "jobs.compact",
    "jobs.corpus",
    "jobs.curate",
    "jobs.dedup",
    "jobs.report",
    "jobs.linkgraph",
    "__spark_entry__",
    "ingestbench.run",
    "scripts.check_oracles",
    "scripts.make_fixtures",
    "scripts.make_pyfiles",
    "scripts.fuzz_html_fast",
    "scripts.fuzz_sentences",
)


def _modules() -> dict[str, pathlib.Path]:
    mods = {p.stem: p for p in REPO.glob("*.py")}
    for top in ("engine", "jobs", "scripts", "ingestbench"):
        for p in (REPO / top).rglob("*.py"):
            parts = p.relative_to(REPO).with_suffix("").parts
            if "tests" in parts:
                continue
            if parts[-1] == "__init__":
                parts = parts[:-1]
            mods[".".join(parts)] = p
    return mods


def _imports(name: str, path: pathlib.Path, mods: dict) -> set[str]:
    """Repo modules `path` imports anywhere in its body (lazy imports
    and `__import__("...")` included), with their parent packages."""
    pkg = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                up = pkg.split(".")[: len(pkg.split(".")) - node.level + 1]
                base = ".".join(up + ([base] if base else []))
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "__import__"
            and node.args
            and isinstance(node.args[0], ast.Constant)
        ):
            found.add(node.args[0].value)
    out = set()
    for m in found:
        parts = m.split(".")
        out.update(
            q for i in range(1, len(parts) + 1)
            if (q := ".".join(parts[:i])) in mods
        )
    return out


def test_registry_counts_and_oracles_are_queries():
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    assert set(oracles) <= set(queries)
    assert (len(queries), len(oracles)) == (50, 47)


def test_every_module_is_reachable_from_an_entry_point():
    mods = _modules()
    assert set(ENTRY_POINTS) <= set(mods)
    seen, todo = set(), list(ENTRY_POINTS)
    while todo:
        m = todo.pop()
        if m not in seen:
            seen.add(m)
            todo.extend(_imports(m, mods[m], mods))
    assert sorted(set(mods) - seen) == []

"""Every top-level definition of the package is reached from production code.

The production roots are the job entry points (``jobs/``), the benchmark
(``perfbench/``, ``bench.py``, ``bench_extra.py``), the driver contract
(``__spark_entry__.py``) and the package's public API.  From them the check
follows name and attribute references through the ``ast`` of every package
module; a definition that only ``tests/`` (or nothing) reaches fails here,
named ``module:def``, unless ``KEEP`` gives the reason it stays.  Needs no
Spark session.

``python tests/test_reachability.py [REPO]`` prints the unreached
definitions with their line counts.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "page_evaluator_spark"

ROOT_FILES = ["__spark_entry__.py", "bench.py", "bench_extra.py",
              "jobs/*.py", "perfbench/*.py"]
ROOT_DEFS = [f"{PACKAGE}.plans.pipeline:evaluate_documents",
             f"{PACKAGE}.plans.incremental:IncrementalRunner",
             f"{PACKAGE}.session:get_spark"]

# module:def (or module:* for a whole module) -> why it stays unreached
KEEP = {
    f"{PACKAGE}.operators.pdf:*":
        "PDF/layout parse is part of the BASELINE north_rule input contract",
    f"{PACKAGE}.operators.skew:*":
        "skew helpers stay until the parse-width rule decides between them",
}


def _resolve_from(module: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    base = module.split(".")
    if not is_pkg:
        base = base[:-1]
    base = base[:len(base) - node.level + 1]
    return ".".join(base + ([node.module] if node.module else []))


class _Module:
    """Top-level defs of one file and the package names each one refers to."""

    def __init__(self, path: Path, name: str, modules: set[str]):
        self.name = name
        self.modules = modules
        self.tree = ast.parse(path.read_text(), filename=str(path))
        is_pkg = path.name == "__init__.py"
        # local alias -> package module ("mod") or package def ("mod:def");
        # function-local imports count module-wide (an over-approximation)
        self.aliases: dict[str, set[str]] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] == PACKAGE:
                        local = a.asname or PACKAGE
                        self.aliases.setdefault(local, set()).add(
                            a.name if a.asname else PACKAGE)
            elif isinstance(node, ast.ImportFrom):
                src = _resolve_from(name, is_pkg, node)
                if src.split(".")[0] != PACKAGE:
                    continue
                for a in node.names:
                    sub = f"{src}.{a.name}"
                    self.aliases.setdefault(a.asname or a.name, set()).add(
                        sub if sub in modules else f"{src}:{a.name}")
        self.defs: dict[str, list[ast.stmt]] = {}
        self.lines: dict[str, int] = {}
        self.init: list[ast.stmt] = []  # import-time statements that are not defs
        for stmt in self.tree.body:
            names = []
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [stmt.name]
            elif isinstance(stmt, ast.Assign):
                names = [t.id for t in stmt.targets if isinstance(t, ast.Name)]
            elif isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
                names = [stmt.target.id]
            names = [n for n in names if not n.startswith("__")]  # __all__ etc.
            for n in names:
                self.defs.setdefault(n, []).append(stmt)
                self.lines[n] = self.lines.get(n, 0) + stmt.end_lineno - stmt.lineno + 1
            if not names and not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                self.init.append(stmt)

    def refs(self, nodes: list[ast.AST]) -> set[str]:
        """Package modules / defs that ``nodes`` name."""
        out: set[str] = set()
        for root in nodes:
            for node in ast.walk(root):
                if isinstance(node, ast.Name):
                    if node.id in self.defs:
                        out.add(f"{self.name}:{node.id}")
                    out |= self.aliases.get(node.id, set())
                elif isinstance(node, ast.Attribute):
                    chain = [node.attr]
                    value = node.value
                    while isinstance(value, ast.Attribute):
                        chain.append(value.attr)
                        value = value.value
                    if not isinstance(value, ast.Name):
                        continue
                    for target in self.aliases.get(value.id, ()):
                        if ":" in target:
                            continue
                        # pkg.sub.mod.name: the longest module prefix, then a def
                        parts = target.split(".") + chain[::-1]
                        for i in range(len(parts) - 1, 0, -1):
                            head = ".".join(parts[:i])
                            if head in self.modules:
                                out.add(f"{head}:{parts[i]}")
                                break
        return out


def _kept(item: str, keep: dict[str, str]) -> bool:
    return item in keep or f"{item.partition(':')[0]}:*" in keep


def analyse(repo: Path = REPO, keep: dict[str, str] = KEEP
            ) -> tuple[dict[str, int], set[str]]:
    """({module:def -> lines} of every package def, the set reached from the
    production roots and the kept defs)."""
    files = {".".join(p.relative_to(repo).with_suffix("").parts).removesuffix(".__init__"): p
             for p in sorted((repo / PACKAGE).rglob("*.py"))}
    mods = {name: _Module(p, name, set(files)) for name, p in files.items()}
    all_defs = {f"{m.name}:{d}": n for m in mods.values() for d, n in m.lines.items()}

    # a kept def stays, so whatever it calls stays too
    todo = ROOT_DEFS + [d for d in all_defs if _kept(d, keep)]
    for pattern in ROOT_FILES:
        for p in sorted(repo.glob(pattern)):
            root = _Module(p, str(p), set(files))
            todo += root.refs([root.tree])
    reached: set[str] = set()
    imported: set[str] = set()
    while todo:
        item = todo.pop()
        module, _, name = item.partition(":")
        m = mods.get(module)
        if m is None:
            continue
        if module not in imported:  # importing a module runs its init
            imported.add(module)
            todo += m.refs(m.init)
            todo.append(module.rpartition(".")[0])
        if not name or item in reached:
            continue
        if name not in m.defs:  # re-exported through a package __init__
            todo += m.aliases.get(name, set())
            continue
        reached.add(item)
        todo += m.refs(m.defs[name])
    return all_defs, reached


def unreached(repo: Path = REPO, keep: dict[str, str] = KEEP) -> dict[str, int]:
    all_defs, reached = analyse(repo, keep)
    return {d: n for d, n in sorted(all_defs.items())
            if d not in reached and not _kept(d, keep)}


def test_every_package_def_is_reached_from_production():
    dead = unreached()
    assert not dead, (
        "reached only from tests (or nothing) — delete, or add to KEEP with a "
        "reason:\n  " + "\n  ".join(dead))


def test_keep_list_holds_only_unreached_defs():
    """Each KEEP entry names real defs that production does not reach, so
    the list cannot go stale when a kept def gains a caller or is deleted."""
    all_defs, reached = analyse(keep={})
    for item in KEEP:
        module, _, name = item.partition(":")
        named = [d for d in all_defs
                 if d == item or (name == "*" and d.partition(":")[0] == module)]
        assert named, f"{item}: no such def"
        assert not all(d in reached for d in named), f"{item}: already reached"


if __name__ == "__main__":
    dead = unreached(Path(sys.argv[1]).resolve() if len(sys.argv) > 1 else REPO)
    for d, n in dead.items():
        print(f"{n:5d}  {d}")
    print(f"{sum(dead.values()):5d}  total ({len(dead)} defs)")

"""List package definitions that no entrypoint reaches.

A definition is a module-level function, class or constant, or a method of
a module-level class, in ``schema_enforcer_spark/``. It is reached when a
reference to its name appears outside its own body in code that is itself
reached: module-level code and reached definitions of the package, and all
of ``tools/``, ``perfbench/``, ``__spark_entry__.py`` and ``bench*.py``.
Tests never count. A reference is a name or attribute with the same
identifier, a string constant equal to it (``__all__`` entries and the
rule-kind table's evaluator names), or a ``from ... import`` of it in a
module that uses the name the import binds or lists it in ``__all__`` (an
unused import reaches nothing). The scan is by name, so it errs towards
"reached": a local variable that shares a definition's name keeps it.

Reachability is a least fixed point, so a helper whose only callers are
themselves unreached is listed too. Dunder methods are never listed.

Usage: python tools/unreached.py
Prints one ``path:line qualname`` per unreached definition that is not in
KEEP, and exits 1 if there is any.
"""

from __future__ import annotations

import ast
import glob
import os
import re
import sys

PACKAGE = "schema_enforcer_spark"
ENTRY_GLOBS = ["tools/*.py", "perfbench/**/*.py", "__spark_entry__.py", "bench*.py"]

# Reached by a path the name scan cannot see. Keys are regexes matched
# against "module:qualname"; values give the reason.
KEEP = {
    r"engine:ValidationEngine\._\w+_entries": "called through getattr(self, f'_{kind}_entries')",
    r"plugins:(PandasValidator|PydanticBatchValidator|load_validators|run_validator)":
        "the custom-validator plugin API (the reference's validator plugins)",
    r"engine:ValidationReport\.passes": "the report's pass/fail answer for library callers",
    r"synth:(inject|CASES)": "defect injection for end-to-end checks run by hand",
    r"binding:ManifestRegistry\.validate_all":
        "the only non-test path into bind's static-map, declared and applies_to mappings",
    r"__init__:__version__": "package version",
}


class _Def:
    def __init__(self, path: str, module: str, qualname: str, node: ast.AST):
        self.path, self.module, self.qualname = path, module, qualname
        self.name = qualname.rsplit(".", 1)[-1]
        self.start, self.end = node.lineno, node.end_lineno

    def key(self) -> str:
        return f"{self.module}:{self.qualname}"

    def contains(self, path: str, line: int) -> bool:
        return path == self.path and self.start <= line <= self.end


def _assigned_names(node: ast.stmt) -> list[str]:
    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
    return [t.id for t in targets if isinstance(t, ast.Name)]


def definitions(path: str, tree: ast.Module) -> list[_Def]:
    mod = os.path.relpath(path, PACKAGE)[:-3].replace(os.sep, ".")
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append(_Def(path, mod, node.name, node))
            if isinstance(node, ast.ClassDef):
                for sub in node.body:
                    if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)) and not (
                        sub.name.startswith("__") and sub.name.endswith("__")
                    ):
                        out.append(_Def(path, mod, f"{node.name}.{sub.name}", sub))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            out.extend(_Def(path, mod, n, node) for n in _assigned_names(node) if n != "__all__")
    return out


def _exported(tree: ast.Module) -> set[str]:
    """The string entries of the module's ``__all__``."""
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)) and "__all__" in _assigned_names(node):
            return {e.value for e in getattr(node.value, "elts", ()) if isinstance(e, ast.Constant)}
    return set()


def references(tree: ast.Module) -> list[tuple[str, int]]:
    used = _exported(tree) | {
        n.id for n in ast.walk(tree) if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)
    }
    refs = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            refs.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            refs.append((node.attr, node.lineno))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str) and node.value.isidentifier():
            refs.append((node.value, node.lineno))
        elif isinstance(node, ast.ImportFrom):
            refs.extend((a.name, node.lineno) for a in node.names if (a.asname or a.name) in used)
    return refs


def _files(root: str, pattern: str) -> list[str]:
    return sorted(glob.glob(pattern, root_dir=root, recursive=True))


def _parse(root: str, path: str) -> ast.Module:
    with open(os.path.join(root, path), encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def unreached(root: str) -> list[_Def]:
    defs, pkg_refs, entry_names = [], [], set()
    for path in _files(root, f"{PACKAGE}/**/*.py"):
        tree = _parse(root, path)
        defs.extend(definitions(path, tree))
        pkg_refs.extend((path, name, line) for name, line in references(tree))
    for path in {p for g in ENTRY_GLOBS for p in _files(root, g)}:
        entry_names.update(name for name, _ in references(_parse(root, path)))

    keep = re.compile("|".join(f"(?:{k})" for k in KEEP))
    reached = {id(d) for d in defs if keep.fullmatch(d.key()) or d.name in entry_names}
    changed = True
    while changed:
        changed = False
        for d in defs:
            if id(d) in reached:
                continue
            for path, name, line in pkg_refs:
                if name != d.name or d.contains(path, line):
                    continue
                # a reference counts when every definition around it is reached
                if all(id(e) in reached for e in defs if e.contains(path, line)):
                    reached.add(id(d))
                    changed = True
                    break
    return [d for d in defs if id(d) not in reached]


def main() -> int:
    found = unreached(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    for d in found:
        print(f"{d.path}:{d.start} {d.qualname}")
    print(f"{len(found)} unreached definition(s)", file=sys.stderr)
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main())

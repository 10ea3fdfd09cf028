"""Every package module is reachable from a root: the declared queries
in ``__spark_entry__.py``, the benches, the CLI and public API,
``perfbench`` and ``scripts``.  Imports are read from the AST,
function-local ones included; tests do not count as a root, so code
that only a test reaches fails here."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = "raster2dggs_spark"


def _roots():
    yield from (ROOT / n for n in ("__spark_entry__.py", "bench.py",
                                   "bench_extra.py"))
    yield from (ROOT / PKG / n for n in ("__main__.py", "cli.py", "api.py"))
    yield from sorted((ROOT / "perfbench").glob("*.py"))
    yield from sorted((ROOT / "scripts").glob("*.py"))


def _module_of(path):
    rel = path.relative_to(ROOT).with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


def _package_modules():
    return {_module_of(p): p for p in (ROOT / PKG).rglob("*.py")}


def _imported(path, mods):
    """Package modules one file imports, with the packages they sit in."""
    me = _module_of(path)
    pkg = me if path.name == "__init__.py" else me.rpartition(".")[0]
    names = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                up = pkg.rsplit(".", node.level - 1)[0]
                base = f"{up}.{base}" if base else up
            names.append(base)
            names += [f"{base}.{a.name}" for a in node.names]
        elif (isinstance(node, ast.Call)
              and getattr(node.func, "id", None) == "__import__"
              and node.args and isinstance(node.args[0], ast.Constant)):
            names.append(node.args[0].value)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out & mods.keys()


def test_every_module_reachable_from_a_root():
    mods = _package_modules()
    todo = list(_roots())
    seen = {_module_of(p) for p in todo} & mods.keys()
    while todo:
        path = todo.pop()
        for mod in _imported(path, mods) - seen:
            seen.add(mod)
            todo.append(mods[mod])
    unreached = sorted(set(mods) - seen)
    assert not unreached, "no root imports: " + ", ".join(unreached)

"""Every package module is imported, directly or through others, from a
root: the package itself, its public API, the CLI, the entry contract or
a benchmark script.  Found by AST, function-level imports included.  A
module no root reaches is a deliberate change: it must be added here
too, with the reason it stays."""

import ast
from pathlib import Path

import richdem_spark

PKG = Path(richdem_spark.__file__).parent
REPO = PKG.parent

ROOTS = [
    PKG / "__init__.py",
    PKG / "api.py",
    PKG / "cli.py",
    PKG / "__main__.py",
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    REPO / "scale_bench.py",
    *sorted((REPO / "perfbench").glob("*.py")),
]

UNREACHED = {
    "lineage": "per-tile metrics and checkpoint/resume; in-program "
               "tracing (ROADMAP direction 4) replaces it",
    "kernels.breach": "the serial breaching twin the tiled breach tests "
                      "compare against",
    "kernels.garbrecht": "RichDEM's legacy flat-resolution kernel, "
                         "checked by its own tests",
}


def _modules() -> dict[str, Path]:
    """Dotted name (relative to the package) -> source file."""
    out = {}
    for path in PKG.rglob("*.py"):
        parts = path.relative_to(PKG).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imported(path: Path, modules: dict[str, Path]) -> set[str]:
    """Package modules ``path`` imports anywhere in its body, with the
    packages each import runs on its way."""
    # package parts relative imports resolve against (roots outside the
    # package import absolutely)
    base = (list(path.parent.relative_to(PKG).parts)
            if path.is_relative_to(PKG) else [])
    found = set()

    def add(dotted: str) -> None:
        parts = dotted.split(".") if dotted else []
        for i in range(len(parts) + 1):
            name = ".".join(parts[:i])
            if name in modules:
                found.add(name)

    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "richdem_spark":
                    add(a.name.partition(".")[2])
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = base[:len(base) - (node.level - 1)]
                mod = ".".join(parts + ([node.module] if node.module
                                        else []))
            elif (node.module or "").split(".")[0] == "richdem_spark":
                mod = node.module.partition(".")[2]
            else:
                continue
            add(mod)
            for a in node.names:   # ``from pkg import submodule``
                add(f"{mod}.{a.name}" if mod else a.name)
    return found


def test_every_module_is_reached_or_listed():
    modules = _modules()
    reached = {name for name, path in modules.items() if path in ROOTS}
    todo = list(ROOTS)
    while todo:
        for name in _imported(todo.pop(), modules) - reached:
            reached.add(name)
            todo.append(modules[name])
    assert set(modules) - reached == set(UNREACHED)

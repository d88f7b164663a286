"""Every environment variable the package reads, found by AST.  A new
knob is a deliberate change: it must be added here too."""

import ast
from pathlib import Path

import richdem_spark

KNOBS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_ARROW_BATCH",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_MASTER",
}


def _is_environ(node) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "environ"


def _env_keys(tree) -> set[str]:
    """Literal keys of ``os.environ.get(k)``, ``os.environ[k]`` reads
    and ``os.getenv(k)``."""
    keys = set()
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                    (f.attr == "get" and _is_environ(f.value))
                    or f.attr == "getenv"):
                key = node.args[0]
        elif (isinstance(node, ast.Subscript) and _is_environ(node.value)
              and isinstance(node.ctx, ast.Load)):
            key = node.slice
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            keys.add(key.value)
    return keys


def test_env_knob_inventory():
    root = Path(richdem_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        found |= _env_keys(ast.parse(path.read_text(), str(path)))
    assert found == KNOBS

"""Dead-code tripwire: every public top-level function in the package
must be referenced somewhere outside its own body — by the package,
the tests, the scripts, the benchmark harnesses (``bench.py``,
``perfbench/``) or ``__spark_entry__.py``.  Registered queries
(``@register``) count as referenced: the registry is their caller.

A reference is an identifier use (a name, an attribute or an import
alias), matched by name only, so a function shares its references
with any same-named definition elsewhere.  Mentions inside strings and
docstrings do not count.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "social_media_ai_engineering_etl_spark")
SEARCH = [PKG, os.path.join(ROOT, "tests"), os.path.join(ROOT, "scripts"),
          os.path.join(ROOT, "perfbench"), os.path.join(ROOT, "bench.py"),
          os.path.join(ROOT, "__spark_entry__.py")]


def _py_files(path: str) -> list[str]:
    if path.endswith(".py"):
        return [path]
    return [os.path.join(d, f) for d, _, fs in os.walk(path)
            for f in fs if f.endswith(".py")]


def _identifiers(node: ast.AST) -> tuple[str, ...]:
    """The identifiers this one node uses (not its children's)."""
    if isinstance(node, ast.Name):
        return (node.id,)
    if isinstance(node, ast.Attribute):
        return (node.attr,)
    if isinstance(node, ast.alias):
        return (node.name.split(".")[-1], node.asname or "")
    return ()


def _is_registered(fn: ast.FunctionDef) -> bool:
    for d in fn.decorator_list:
        target = d.func if isinstance(d, ast.Call) else d
        if getattr(target, "id", None) == "register":
            return True
    return False


def test_every_public_package_function_is_referenced():
    trees = {f: ast.parse(open(f, encoding="utf-8").read(), f)
             for p in SEARCH for f in _py_files(p)}
    public = [(f, st) for f, tree in trees.items() if f.startswith(PKG)
              for st in tree.body
              if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef))
              and not st.name.startswith("_") and not _is_registered(st)]
    own_body = {id(st): st.name for _, st in public}
    refs: set[str] = set()
    for tree in trees.values():
        stack = [(tree, "")]
        while stack:
            node, own = stack.pop()
            own = own_body.get(id(node), own)
            refs.update(n for n in _identifiers(node) if n != own)
            stack.extend((c, own) for c in ast.iter_child_nodes(node))
    dead = sorted(f"{os.path.relpath(f, ROOT)}:{st.lineno} {st.name}"
                  for f, st in public if st.name not in refs)
    assert not dead, ("public functions referenced nowhere outside their "
                      f"own body (delete them, or use them): {dead}")

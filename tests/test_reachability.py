"""Every top-level package def is reached from something that runs.

Roots: each ``@register`` query (decorator and body), module-level
package code (it runs on import), and all of ``tools/``, ``perfbench/``,
``bench.py`` and ``__spark_entry__.py``. A def is reached when a reached
body names it as an AST ``Name`` or ``Attribute`` anywhere in the
package or the roots; iterate to a fixed point. Matching is by name, so
a collision can only keep a def alive, never flag a live one.
Imports and ``__all__`` strings do not count: a re-export is not a
caller. Tests are not roots, so code only a test reaches fails here.

A second rule keeps one implementation per mechanism: no two package
functions (at any nesting depth) may have the same body once the
docstring is dropped and the parameters are renamed by position.

Runs without Spark: it parses the sources, it imports nothing.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "datalakes_and_data_integration_spark"

# Entry points called from outside the repo: "module.def" -> reason.
ALLOWED = {
    "orchestration.build_dag": "Airflow's DAG loader calls it (Airflow is "
    "not installed here); its task_* callables are reached through it",
    "sources.sinks.write_postgres_copy": "the reference's S18 curated -> "
    "Postgres write, called by a deployment; tests/test_postgres_sink.py "
    "pins it against a real PostgreSQL server",
}


def _names(node: ast.AST) -> set[str]:
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _is_query(d: ast.AST) -> bool:
    return (
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "register"
    )


def _scan(
    pkg: Path = PKG, outside: list[Path] | None = None
) -> tuple[dict[str, ast.AST], set[str]]:
    """(top-level defs by "module.name", names the roots reference)."""
    defs: dict[str, ast.AST] = {}
    live: set[str] = set()
    for f in sorted(pkg.rglob("*.py")):
        mod = ".".join(f.relative_to(pkg).with_suffix("").parts)
        for st in ast.parse(f.read_text()).body:
            if not isinstance(
                st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                live |= _names(st)
            elif any(_is_query(d) for d in st.decorator_list):
                live |= _names(st)
            else:
                defs[f"{mod}.{st.name}"] = st
                for d in st.decorator_list:
                    live |= _names(d)
    if outside is None:
        outside = [
            *(ROOT / "tools").rglob("*.py"),
            *(ROOT / "perfbench").rglob("*.py"),
            ROOT / "bench.py",
            ROOT / "__spark_entry__.py",
        ]
    for f in outside:
        if not f.name.startswith("test_"):
            live |= _names(ast.parse(f.read_text()))
    return defs, live


def _unreached(defs: dict[str, ast.AST], live: set[str]) -> set[str]:
    live = set(live)
    todo = dict(defs)
    while True:
        hit = [q for q in todo if q.rsplit(".", 1)[1] in live]
        if not hit:
            return set(todo)
        for q in hit:
            live |= _names(todo.pop(q))


def test_every_package_def_is_reached():
    defs, live = _scan()
    for q in ALLOWED:  # an allowed entry point is a root
        live |= _names(defs[q])
    dead = _unreached(defs, live) - set(ALLOWED)
    assert not dead, (
        "package defs no query, pipeline stage, CLI command, tool or "
        f"benchmark reaches: {sorted(dead)}"
    )


def test_allow_list_names_live_unreached_defs():
    defs, live = _scan()
    assert set(ALLOWED) <= set(defs), "allow-list names a missing def"
    assert set(ALLOWED) <= _unreached(defs, live), (
        "allow-list entry is reached without it; drop the entry"
    )
    assert all(reason.strip() for reason in ALLOWED.values())


# Groups of functions allowed to share a body: names -> reason. Expected
# to stay empty: a shared body is one mechanism written twice.
SAME_BODY_ALLOWED: dict[frozenset[str], str] = {}


class _Rename(ast.NodeTransformer):
    def __init__(self, names: dict[str, str]):
        self.names = names

    def visit_Name(self, node: ast.Name) -> ast.Name:
        if node.id in self.names:
            return ast.Name(id=self.names[node.id], ctx=node.ctx)
        return node


def _body_key(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> str:
    """``fn``'s body without its docstring, parameters renamed by position."""
    body = fn.body
    if (
        isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]
    a = fn.args
    params = [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]
    params += [p.arg for p in (a.vararg, a.kwarg) if p]
    rename = _Rename({p: f"_{i}" for i, p in enumerate(params)})
    # re-parse a copy: the transformer must not touch the scanned tree
    copy = ast.parse(ast.unparse(ast.Module(body=body, type_ignores=[])))
    return ast.dump(rename.visit(copy))


def _same_bodies(pkg: Path = PKG) -> list[frozenset[str]]:
    """Groups of package functions ("module.outer.name") sharing a body."""
    groups: dict[str, set[str]] = defaultdict(set)

    def visit(node: ast.AST, prefix: str) -> None:
        for child in ast.iter_child_nodes(node):
            name = prefix
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = f"{prefix}.{child.name}"
                groups[_body_key(child)].add(name)
            elif isinstance(child, ast.ClassDef):
                name = f"{prefix}.{child.name}"
            visit(child, name)

    for f in sorted(pkg.rglob("*.py")):
        mod = ".".join(f.relative_to(pkg).with_suffix("").parts)
        visit(ast.parse(f.read_text()), mod)
    return [frozenset(g) for g in groups.values() if len(g) > 1]


def test_no_two_package_functions_share_a_body():
    shared = set(_same_bodies()) - set(SAME_BODY_ALLOWED)
    assert not shared, (
        "package functions with the same body modulo parameter names "
        f"and docstring: {sorted(sorted(g) for g in shared)}"
    )


def test_same_body_allow_list_names_live_groups():
    assert set(SAME_BODY_ALLOWED) <= set(_same_bodies()), (
        "same-body allow-list entry no longer shared; drop the entry"
    )
    assert all(reason.strip() for reason in SAME_BODY_ALLOWED.values())


# --- the rule itself, on small synthetic packages --------------------------


def _dead(tmp_path: Path, modules: dict[str, str], outside=()) -> set[str]:
    """Unreached defs of a package made of ``modules`` (name -> source),
    with ``outside`` (file name -> source) as the code outside it."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    for name, src in modules.items():
        (pkg / f"{name}.py").write_text(src)
    files = []
    for name, src in outside:
        f = tmp_path / name
        f.write_text(src)
        files.append(f)
    return _unreached(*_scan(pkg, files))


def test_rule_flags_a_def_nothing_names(tmp_path):
    dead = _dead(tmp_path, {"m": "def used():\n    pass\n\n"
                                 "def unused():\n    pass\n\n"
                                 "used()\n"})
    assert dead == {"m.unused"}


def test_rule_is_transitive(tmp_path):
    """A def named only by a reached def is reached; a def named only by
    an unreached def is not."""
    src = (
        "def a():\n    return b()\n\n"
        "def b():\n    return 1\n\n"
        "def dead():\n    return helper()\n\n"
        "def helper():\n    return 2\n\n"
        "RESULT = a()\n"
    )
    assert _dead(tmp_path, {"m": src}) == {"m.dead", "m.helper"}


def test_rule_recursion_alone_keeps_nothing_alive(tmp_path):
    src = (
        "def loop(n):\n    return loop(n - 1) if n else 0\n\n"
        "def ping(n):\n    return pong(n)\n\n"
        "def pong(n):\n    return ping(n)\n"
    )
    assert _dead(tmp_path, {"m": src}) == {"m.loop", "m.ping", "m.pong"}


def test_rule_reexports_are_not_callers(tmp_path):
    """An import or an ``__all__`` string names a def without calling it;
    an attribute access (``mod.f``) does call it."""
    dead = _dead(
        tmp_path,
        {
            "a": "def exported():\n    pass\n\n"
            "def by_attr():\n    pass\n",
            "b": "from a import exported\n"
            "import a\n"
            '__all__ = ["exported"]\n'
            "a.by_attr()\n",
        },
    )
    assert dead == {"a.exported"}


def test_rule_roots_are_queries_decorators_and_outside_code(tmp_path):
    """A ``@register`` body, the decorator of any def and the code outside
    the package are roots; a ``test_*`` file outside it is not."""
    dead = _dead(
        tmp_path,
        {
            "m": "def for_query():\n    pass\n\n"
            "def deco(f):\n    return f\n\n"
            "def for_tool():\n    pass\n\n"
            "def for_test():\n    pass\n\n"
            '@register("q")\n'
            "def q(spark):\n    return for_query()\n\n"
            "@deco\n"
            "def decorated():\n    pass\n",
        },
        outside=[
            ("tool.py", "m.for_tool()\n"),
            ("test_tool.py", "m.for_test()\n"),
        ],
    )
    assert dead == {"m.for_test", "m.decorated"}


def test_same_body_rule_ignores_parameter_names_and_docstrings(tmp_path):
    """Bodies equal up to parameter names and docstring are one group, a
    nested def included; a different constant, or a free name where the
    others use a parameter, is a different body."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "a.py").write_text(
        "def r6(expr):\n    return f'ROUND({expr})'\n\n"
        "def r4(expr):\n    return f'ROUND({expr}, 4)'\n"
    )
    (pkg / "b.py").write_text(
        "def _b_r6(e):\n    \"\"\"Round.\"\"\"\n    return f'ROUND({e})'\n\n"
        "def outer(x):\n"
        "    def inner(y):\n        return f'ROUND({y})'\n"
        "    return inner(x)\n\n"
        "def free(e):\n    return f'ROUND({expr})'\n"
    )
    assert _same_bodies(pkg) == [
        frozenset({"a.r6", "b._b_r6", "b.outer.inner"})
    ]

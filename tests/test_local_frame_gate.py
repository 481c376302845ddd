"""Driver-local rows and block-storage gates (no Spark).

``session.local_frame`` is the package's only way to turn Python rows
into a DataFrame: it ships an Arrow table to the JVM as a
``LocalRelation``. A list handed to ``spark.createDataFrame`` goes through
``sc.parallelize`` instead, and every scan of the result (and of any view
built over it, such as a docstore write overlay) then pipes
``defaultParallelism`` partitions through Python workers.

This gate audits the package source: every ``createDataFrame(`` call must
sit inside ``local_frame``, and nothing may call ``parallelize(``. A new
site fails here until it goes through the helper.

The same audit covers block storage: ``session.materialize`` is the only
place that may call ``localCheckpoint``, ``persist``, ``cache`` or
``checkpoint``. It records each pin under the caller's job group, which is
what lets ``release_materialized`` free a query's storage without touching
anyone else's; a pin made anywhere else would never be released.

Table registration has one owner too: only ``session.py`` may reference
the view registry (``_view_registry`` and the session attribute behind
it). A view registered elsewhere would not be in the registry, so
``load_tables`` would mistake it for a caller's substitution and keep it.
"""

import ast
import glob
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "database_toolbox_spark",
)

# (file, enclosing function) -> reviewed createDataFrame call count
ALLOWED = {("session.py", "local_frame"): 1}
BANNED = ("createDataFrame", "parallelize")
# (file, enclosing function) -> reviewed block-storage call count
STORAGE_ALLOWED = {("session.py", "materialize"): 1}
STORAGE = ("localCheckpoint", "persist", "cache", "checkpoint")
REGISTRY = ("_view_registry", "_dts_views")


class _Sites(ast.NodeVisitor):
    """Collects (file, enclosing function, method) for every call of one
    of the ``methods``."""

    def __init__(self, rel: str, methods: tuple[str, ...]) -> None:
        self.rel, self.methods = rel, methods
        self.owner, self.found = "<module>", []

    def visit_FunctionDef(self, node) -> None:
        outer, self.owner = self.owner, node.name
        self.generic_visit(node)
        self.owner = outer

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node: ast.Call) -> None:
        if isinstance(node.func, ast.Attribute) and node.func.attr in self.methods:
            self.found.append((self.rel, self.owner, node.func.attr))
        self.generic_visit(node)


def _calls(methods: tuple[str, ...]):
    for path in sorted(glob.glob(f"{PKG}/**/*.py", recursive=True)):
        sites = _Sites(os.path.relpath(path, PKG), methods)
        sites.visit(ast.parse(open(path).read(), filename=path))
        yield from sites.found


def test_local_rows_go_through_local_frame():
    got: dict[tuple[str, str], int] = {}
    for rel, owner, attr in _calls(BANNED):
        assert attr != "parallelize", (
            f"{rel}:{owner} calls parallelize — build driver-local rows "
            "with session.local_frame"
        )
        got[(rel, owner)] = got.get((rel, owner), 0) + 1
    assert got == ALLOWED, (
        f"createDataFrame call sites changed: {got} — build driver-local "
        "rows with session.local_frame instead"
    )


def test_block_storage_goes_through_materialize():
    got: dict[tuple[str, str], int] = {}
    for rel, owner, _ in _calls(STORAGE):
        got[(rel, owner)] = got.get((rel, owner), 0) + 1
    assert got == STORAGE_ALLOWED, (
        f"block-storage call sites changed: {got} — pin intermediates "
        "with session.materialize, which scopes them to the job group"
    )


def _referenced_name(node: ast.AST):
    """The name a node refers to: a variable, an attribute, an imported
    name, or a string constant (``getattr(spark, "...")``)."""
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name
    if isinstance(node, ast.Constant):
        return node.value
    return None


def test_view_registry_is_referenced_only_in_session():
    owners = set()
    for path in sorted(glob.glob(f"{PKG}/**/*.py", recursive=True)):
        for node in ast.walk(ast.parse(open(path).read(), filename=path)):
            if _referenced_name(node) in REGISTRY:
                owners.add(os.path.relpath(path, PKG))
    assert owners == {"session.py"}, (
        f"view registry referenced in {sorted(owners)} — register tables "
        "through session.load_table / load_tables"
    )

"""Driver-local rows gate (no Spark).

``session.local_frame`` is the package's only way to turn Python rows
into a DataFrame: it ships an Arrow table to the JVM as a
``LocalRelation``. A list handed to ``spark.createDataFrame`` goes through
``sc.parallelize`` instead, and every scan of the result (and of any view
built over it, such as a docstore write overlay) then pipes
``defaultParallelism`` partitions through Python workers.

This gate audits the package source: every ``createDataFrame(`` call must
sit inside ``local_frame``, and nothing may call ``parallelize(``. A new
site fails here until it goes through the helper.
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


class _Sites(ast.NodeVisitor):
    """Collects (file, enclosing function, method) for every call of a
    BANNED method name."""

    def __init__(self, rel: str) -> None:
        self.rel, self.owner, self.found = rel, "<module>", []

    def visit_FunctionDef(self, node) -> None:
        outer, self.owner = self.owner, node.name
        self.generic_visit(node)
        self.owner = outer

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node: ast.Call) -> None:
        if isinstance(node.func, ast.Attribute) and node.func.attr in BANNED:
            self.found.append((self.rel, self.owner, node.func.attr))
        self.generic_visit(node)


def _calls():
    for path in sorted(glob.glob(f"{PKG}/**/*.py", recursive=True)):
        sites = _Sites(os.path.relpath(path, PKG))
        sites.visit(ast.parse(open(path).read(), filename=path))
        yield from sites.found


def test_local_rows_go_through_local_frame():
    got: dict[tuple[str, str], int] = {}
    for rel, owner, attr in _calls():
        assert attr != "parallelize", (
            f"{rel}:{owner} calls parallelize — build driver-local rows "
            "with session.local_frame"
        )
        got[(rel, owner)] = got.get((rel, owner), 0) + 1
    assert got == ALLOWED, (
        f"createDataFrame call sites changed: {got} — build driver-local "
        "rows with session.local_frame instead"
    )

"""Sweeping plan-shape audit over the ENTIRE declared query surface.

Anti-patterns that must never appear in any `queries()` plan, at any
scale factor (plan-only — nothing executes):

- ``CartesianProduct`` — an unconstrained all-pairs join is the classic
  100 TB killer. (Broadcast nested-loop against a 1-row frame is a
  different node and legitimately appears in the kNN query-vector
  cross.)
- ``BatchEvalPython`` / ``ArrowEvalPython`` — row-at-a-time or scalar
  Python UDFs in a hot path; the engine's contract is JVM-side
  expressions everywhere, with Python only in ``mapInPandas`` media
  kernels (``MapInPandas`` nodes are allowed).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_no_cartesian_or_python_udf(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    plan = _formatted(df)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, f"{name} plans a Python UDF ({node})"
    # the driver canonicalizes output through pandas sort_values, which
    # crashes on list/dict cells (r7's mm_pixel_stats) — every declared
    # query must emit atomic columns only
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not offenders, (
        f"{name} emits non-atomic output column(s) {offenders}; the "
        f"driver harness cannot canonicalize them — serialize or unnest"
    )



def test_every_plan_function_is_registered_or_called():
    """Dead plan code cannot come back silently: every plan function
    (first two parameters ``(spark, sf_dir)`` in ``plans/*.py``) is a
    ``queries()`` entry or is called by name from another function in
    the package (shared frames such as ``derived_pii_frame``). An AST
    walk; nothing is planned or run."""
    import ast
    from pathlib import Path

    pkg = Path(entrymod.__file__).resolve().parent / (
        "automated_datastore_discovery_with_aws_glue_spark"
    )
    registered = {
        (f.__module__.rsplit(".", 1)[-1], f.__name__)
        for f in entrymod.queries().values()
    }
    plans: set[tuple[str, str]] = set()
    callees: set[str] = set()
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            params = [a.arg for a in fn.args.posonlyargs + fn.args.args]
            if path.parent.name == "plans" and params[:2] == ["spark", "sf_dir"]:
                plans.add((path.stem, fn.name))
            for node in ast.walk(fn):
                if isinstance(node, ast.Call):
                    f = node.func
                    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                    if name and name != fn.name:
                        callees.add(name)
    offenders = sorted(
        f"plans/{mod}.py:{name}"
        for mod, name in plans
        if (mod, name) not in registered and name not in callees
    )
    assert plans and not offenders, (
        f"plan functions neither registered in queries() nor called: {offenders}"
    )


def test_hash_choice_lives_in_the_family_module():
    """The hash family is decided in ``operators/hashing.py`` only: no
    other module branches on ``hash_fn`` by comparing it to a string,
    and no module re-types the 60-bit md5 formula
    ``conv(md5(...).substr(1, 15), 16, 10)`` outside
    ``text.md5_hash64``. An AST walk; nothing is planned or run."""
    import ast
    from pathlib import Path

    pkg = Path(entrymod.__file__).resolve().parent / (
        "automated_datastore_discovery_with_aws_glue_spark"
    )

    def name_of(node: ast.AST) -> str | None:
        if isinstance(node, ast.Name):
            return node.id
        if isinstance(node, ast.Attribute):
            return node.attr
        return None

    def has_str(node: ast.AST) -> bool:
        return any(
            isinstance(n, ast.Constant) and isinstance(n.value, str) for n in ast.walk(node)
        )

    def is_md5_formula(node: ast.AST) -> bool:
        if not (isinstance(node, ast.Call) and name_of(node.func) == "conv" and node.args):
            return False
        sub = node.args[0]
        return (
            isinstance(sub, ast.Call)
            and isinstance(sub.func, ast.Attribute)
            and sub.func.attr == "substr"
            and isinstance(sub.func.value, ast.Call)
            and name_of(sub.func.value.func) == "md5"
        )

    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "operators/hashing.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        definition = set()
        if rel == "operators/text.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "md5_hash64":
                    definition = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Compare):
                operands = [node.left, *node.comparators]
                if any(name_of(o) == "hash_fn" for o in operands) and any(
                    has_str(o) for o in operands if name_of(o) != "hash_fn"
                ):
                    offenders.append(f"{rel}:{node.lineno} compares hash_fn to a string")
            if is_md5_formula(node) and id(node) not in definition:
                offenders.append(f"{rel}:{node.lineno} copies the md5_hash64 formula")
    assert not offenders, offenders

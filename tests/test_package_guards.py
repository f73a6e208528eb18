"""Static guards over the package source (no Spark)."""

import ast
import pathlib

import french_admin_etl_spark

PKG = pathlib.Path(french_admin_etl_spark.__file__).parent


def test_create_dataframe_only_in_local_frame():
    """Driver-local rows become frames only through ``session.local_frame``
    (an Arrow ``LocalRelation``). A ``createDataFrame`` call anywhere else
    in the package could bring back the Python-RDD form, whose every
    action is a Spark job through Python workers."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        if path == PKG / "session.py":
            allowed = {
                id(n)
                for fn in tree.body
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
                for n in ast.walk(fn)
            }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert offenders == [], offenders

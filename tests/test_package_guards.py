"""Static guards over the package source (no Spark)."""

import ast
import importlib.util
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


def test_driver_contract_imports_and_registries_match():
    """``__spark_entry__`` imports the package's operators at module load,
    so deleting or renaming one breaks the driver contract before any
    query runs. Each query must have its oracle twin, and the contract
    holds exactly 50 queries."""
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", PKG.parent / "__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    assert callable(entry.entry)
    for queries, oracles in [
        (entry.queries(), entry.oracle_sql()),
        (entry.extra_queries(), entry.extra_oracle_sql()),
    ]:
        assert set(queries) == set(oracles)
        assert all(callable(q) for q in queries.values())
    assert len(entry.queries()) == 50


def test_every_engine_config_field_is_read():
    """A knob that is parsed and validated but never read does nothing
    for the user who sets it. Every ``EngineConfig`` field must be read
    as ``cfg.<field>`` in ``app.py`` or as ``self.<field>`` in an
    ``EngineConfig`` method other than its parsing and validation."""
    import dataclasses

    from french_admin_etl_spark.config import EngineConfig

    def loads(tree, owner):
        return {
            n.attr
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute)
            and isinstance(n.ctx, ast.Load)
            and isinstance(n.value, ast.Name)
            and n.value.id == owner
        }

    read = loads(ast.parse((PKG.parent / "app.py").read_text()), "cfg")
    config = ast.parse((PKG / "config.py").read_text())
    for cls in config.body:
        if isinstance(cls, ast.ClassDef) and cls.name == "EngineConfig":
            for fn in cls.body:
                if isinstance(fn, ast.FunctionDef) and fn.name not in (
                    "__post_init__", "load"
                ):
                    read |= loads(fn, "self")
    unread = [f.name for f in dataclasses.fields(EngineConfig) if f.name not in read]
    assert unread == [], unread


def test_perfbench_traced_methods_exist():
    """The benchmark's traced run wraps each ``(module, class, method)``
    in ``perfbench/tracing.py``'s ``TRACED`` list, looked up in the
    class's own ``__dict__``. Folding or renaming one of those methods
    would break every traced run, so each must stay defined directly in
    its class body."""
    tracing = ast.parse((PKG.parent / "perfbench" / "tracing.py").read_text())
    traced = next(
        ast.literal_eval(node.value)
        for node in tracing.body
        if isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "TRACED" for t in node.targets)
    )
    assert traced
    missing = []
    for mod, cls_name, meth, _span in traced:
        rel = pathlib.Path(*mod.split("."))
        tree = ast.parse((PKG.parent / rel.with_suffix(".py")).read_text())
        methods = {
            fn.name
            for cls in tree.body
            if isinstance(cls, ast.ClassDef) and cls.name == cls_name
            for fn in cls.body
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        if meth not in methods:
            missing.append(f"{mod}.{cls_name}.{meth}")
    assert missing == [], missing


def _private_methods(path: pathlib.Path, cls_name: str) -> set[str]:
    tree = ast.parse(path.read_text())
    return {
        fn.name
        for cls in tree.body
        if isinstance(cls, ast.ClassDef) and cls.name == cls_name
        for fn in cls.body
        if isinstance(fn, ast.FunctionDef)
        and fn.name.startswith("_")
        and not fn.name.startswith("__")
    }


def _foreign_uses(tree: ast.AST, names: set[str]) -> list[tuple[int, str]]:
    """``x.<name>`` for ``name`` in ``names`` where ``x`` is not ``self``."""
    return [
        (node.lineno, node.attr)
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and node.attr in names
        and not (isinstance(node.value, ast.Name) and node.value.id == "self")
    ]


def test_table_internals_stay_in_the_table_package():
    """Writers reach a ``LakeTable`` through its public surface
    (``merge``, ``stage_merge``/``commit_merge``, ``is_fenced``...): a
    driver that calls the table's private staging or commit steps is a
    second copy of the write path that drifts from the first. Only
    ``table/`` may use them."""
    private = _private_methods(PKG / "table" / "lake_table.py", "LakeTable")
    assert private
    offenders = [
        f"{path.relative_to(PKG.parent)}:{line}: {attr}"
        for path in sorted(PKG.rglob("*.py"))
        if (PKG / "table") not in path.parents
        for line, attr in _foreign_uses(ast.parse(path.read_text()), private)
    ]
    assert offenders == [], offenders


def test_dag_runs_the_per_table_pipeline_through_public_steps():
    """``DagApplyJob`` applies each table through ``CDCApplyJob``'s public
    steps (``apply_batch``, ``stage``, ``commit``) and reimplements none
    of its private ones."""
    private = _private_methods(PKG / "streaming" / "apply.py", "CDCApplyJob")
    assert private
    dag = ast.parse((PKG / "streaming" / "dag.py").read_text())
    cls = next(
        n for n in dag.body if isinstance(n, ast.ClassDef) and n.name == "DagApplyJob"
    )
    assert _foreign_uses(cls, private) == []


def test_fence_property_spelled_only_by_the_table():
    """The fence property name lives in one place, ``lake_table.py``;
    every other module asks ``is_fenced``/``fence_key``."""
    spelled = [
        str(path.relative_to(PKG))
        for path in sorted(PKG.rglob("*.py"))
        if "last_batch_id" in path.read_text()
    ]
    assert spelled == ["table/lake_table.py"], spelled

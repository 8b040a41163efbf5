"""The one per-process setup call (``_alloc.worker_setup``): every
engine function Spark runs in a Python process calls it first, and in a
Spark task it leaves no ``zipimporter`` cached while imports from the
pyspark zip keep working, and freezes the GC only in reused workers."""

from __future__ import annotations

import ast
import os

import vcf2parquet_spark

PKG = os.path.dirname(vcf2parquet_spark.__file__)

# module -> functions (``Class.method`` for methods) that Spark calls in
# an executor task or a DataSource planner process
ENTRY_POINTS = {
    "encode.py": ["_pack_stream", "_encode_stream", "_encode_task"],
    "decode.py": ["read_blocks_file"],
    "datasource.py": [
        "BlocksDataSource.schema", "BlocksDataSource.reader",
        "BlocksDataSource.writer", "BlocksDataSource.streamWriter",
        "BlocksDataSource.streamReader",
        "BlocksReader.pushFilters", "BlocksReader.partitions",
        "BlocksStreamReader.partitions",
        "BlocksArrowWriter.write", "BlocksArrowWriter.commit",
        "BlocksArrowWriter.abort",
        "BlocksStreamWriter.write", "BlocksStreamWriter.commit",
        "BlocksStreamWriter.abort",
    ],
    "corpus.py": ["gen"],
    "sources.py": ["op"],
    "functions/multimodal.py": ["features_op", "resize_op", "frames_op"],
}


def _functions(tree: ast.Module) -> dict[str, ast.FunctionDef]:
    """Every function in the module by name; methods as Class.method
    (nested functions by their own name)."""
    out: dict[str, ast.FunctionDef] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef):
            for item in node.body:
                if isinstance(item, ast.FunctionDef):
                    out[f"{node.name}.{item.name}"] = item
        elif isinstance(node, ast.FunctionDef):
            out.setdefault(node.name, node)
    return out


def _first_action(fn: ast.FunctionDef) -> ast.stmt:
    """The first statement that is not the docstring or an import."""
    for i, stmt in enumerate(fn.body):
        if i == 0 and isinstance(stmt, ast.Expr) and isinstance(
                getattr(stmt, "value", None), ast.Constant):
            continue
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            continue
        return stmt
    raise AssertionError(f"{fn.name} has no statements")


def _is_worker_setup_call(stmt: ast.stmt) -> bool:
    return (isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Call)
            and isinstance(stmt.value.func, ast.Name)
            and stmt.value.func.id == "worker_setup")


def test_entry_points_call_worker_setup_first():
    missing = []
    for module, names in ENTRY_POINTS.items():
        with open(os.path.join(PKG, module)) as f:
            fns = _functions(ast.parse(f.read()))
        for name in names:
            assert name in fns, f"{module}: {name} not found"
            if not _is_worker_setup_call(_first_action(fns[name])):
                missing.append(f"{module}:{name}")
    assert not missing, f"worker_setup() is not the first call in {missing}"


def test_readers_read_through_read_blocks_file():
    # the readers' read() runs in the executor; its setup is the one
    # read_blocks_file does
    with open(os.path.join(PKG, "datasource.py")) as f:
        fns = _functions(ast.parse(f.read()))
    for name in ("BlocksReader.read", "BlocksStreamReader.read"):
        called = {n.func.id for n in ast.walk(fns[name])
                  if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)}
        assert "read_blocks_file" in called, name


def test_no_side_effect_import_of_alloc():
    # nor the per-entry-point Arrow pin worker_setup replaced
    hits = []
    for root, _, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path) as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Import) and any(
                        a.name == "vcf2parquet_spark._alloc"
                        for a in node.names):
                    hits.append(os.path.relpath(path, PKG))
                elif "_pin_arrow" in (getattr(node, "attr", None),
                                      getattr(node, "id", None)):
                    hits.append(os.path.relpath(path, PKG))
    assert not hits, hits


def test_worker_setup_drops_zip_importers_in_process(tmp_path):
    import sys
    import zipfile
    import zipimport

    from vcf2parquet_spark._alloc import worker_setup

    z = tmp_path / "mods.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("vcf_ws_probe_pkg/__init__.py", "")
        zf.writestr("vcf_ws_probe_pkg/a.py", "X = 1\n")
        zf.writestr("vcf_ws_probe_pkg/b.py", "Y = 2\n")
    sys.path.insert(0, str(z))
    try:
        import vcf_ws_probe_pkg.a  # noqa: F401
        assert any(isinstance(v, zipimport.zipimporter)
                   for v in sys.path_importer_cache.values())
        worker_setup()
        worker_setup()                               # idempotent
        assert not any(isinstance(v, zipimport.zipimporter)
                       for v in sys.path_importer_cache.values())
        from vcf_ws_probe_pkg.b import Y            # not loaded before
        assert Y == 2
    finally:
        sys.path.remove(str(z))
        for m in ("vcf_ws_probe_pkg", "vcf_ws_probe_pkg.a",
                  "vcf_ws_probe_pkg.b"):
            sys.modules.pop(m, None)
        worker_setup()


def test_worker_setup_freezes_gc_only_in_reused_workers(monkeypatch):
    import gc

    from vcf2parquet_spark._alloc import worker_setup

    gc.unfreeze()
    try:
        monkeypatch.delenv("SPARK_REUSE_WORKER", raising=False)
        worker_setup()
        assert gc.get_freeze_count() == 0          # e.g. the driver
        monkeypatch.setenv("SPARK_REUSE_WORKER", "1")
        worker_setup()
        assert gc.get_freeze_count() > 0
    finally:
        gc.unfreeze()


def test_worker_setup_in_spark_task(spark):
    """In a real task: no zipimporter cached after the call, and a
    pyspark submodule the worker had not loaded still imports (from the
    pyspark zip when the worker runs pyspark from it).  The task
    function is nested so it ships by value, not as a test-module
    reference the worker cannot import."""
    def _task_state(_):
        import gc
        import importlib
        import os
        import sys
        import zipimport

        from vcf2parquet_spark._alloc import worker_setup

        def n_zip() -> int:
            return sum(isinstance(v, zipimport.zipimporter)
                       for v in sys.path_importer_cache.values())

        before_setup = n_zip()
        worker_setup()
        after_setup = n_zip()
        frozen = gc.get_freeze_count() > 0
        reuse = bool(os.environ.get("SPARK_REUSE_WORKER"))
        # a pyspark submodule this worker has not loaded yet
        name = next((m for m in ("pyspark.ml.param", "pyspark.ml.linalg",
                                 "pyspark.mllib.common", "pyspark.ml.util")
                     if m not in sys.modules), None)
        mod = importlib.import_module(name) if name else None
        yield (before_setup, after_setup, name,
               getattr(mod, "__file__", "") or "", frozen, reuse)

    rows = (spark.sparkContext.parallelize([0], 1)
            .mapPartitions(_task_state).collect())
    assert len(rows) == 1
    before_setup, after_setup, name, mod_file, frozen, reuse = rows[0]
    assert frozen == reuse
    if mod_file.endswith(".zip") or ".zip" + os.sep in mod_file:
        assert before_setup > 0     # the drop had something to drop
    assert after_setup == 0
    assert name is not None
    if os.environ.get("SPARK_HOME"):
        zips = os.path.join(os.environ["SPARK_HOME"], "python", "lib",
                            "pyspark.zip")
        if os.path.exists(zips):
            assert mod_file.startswith(zips), mod_file

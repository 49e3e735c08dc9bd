"""Units for the shared helpers under tools/ (no SparkSession)."""

from __future__ import annotations


def test_shared_cli_parser():
    """tools/_cli.parse_args — the one flag-parsing loop the diagnostic
    tools share (r11 consolidated three hand-rolled copies that had each
    needed the same guard fixes individually)."""
    import importlib.util
    import os

    import pytest

    spec = importlib.util.spec_from_file_location(
        "_cli", os.path.join(os.path.dirname(__file__), "..", "tools", "_cli.py")
    )
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)

    flags = {"--top": int, "--dry-run": cli.BOOL}
    vals, pos = cli.parse_args(
        ["--top", "3", "a", "b"], flags, "u", positionals=True
    )
    assert vals == {"top": 3} and pos == ["a", "b"]
    vals, pos = cli.parse_args(["--top=7", "--dry-run"], flags, "u")
    assert vals == {"top": 7, "dry-run": True} and pos == []
    # exact-match only: '--topology' is NOT '--top' (the ADVICE r10 bug)
    with pytest.raises(SystemExit):
        cli.parse_args(["--topology"], flags, "u")
    with pytest.raises(SystemExit):  # missing value
        cli.parse_args(["--top"], flags, "u")
    with pytest.raises(SystemExit):  # bool flag takes no value
        cli.parse_args(["--dry-run=x"], flags, "u")
    with pytest.raises(SystemExit):  # positionals rejected by default
        cli.parse_args(["stray"], flags, "u")


def _engine_module(name: str):
    """The engine module ``name`` names, or None for anything else."""
    import importlib

    if name == "__spark_entry__" or name.startswith("movies_etl_spark"):
        return importlib.import_module(name)
    return None


def _engine_names(path: str) -> tuple[set[str], list[str]]:
    """Byte-compile ``path`` and resolve every engine name it uses: each
    ``from movies_etl_spark… import X`` and each attribute read off a
    bound engine module (``D.shingled``). Returns (resolved names as
    ``binding.attr``, missing names)."""
    import ast
    import os

    with open(path) as f:
        src = f.read()
    compile(src, path, "exec")
    tree = ast.parse(src, path)
    bound, resolved, missing = {}, set(), []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                # ``import a.b as X`` binds a.b; ``import a.b`` binds a
                name = a.name if a.asname else a.name.split(".")[0]
                mod = _engine_module(name)
                if mod is not None:
                    bound[a.asname or name] = mod
        elif isinstance(node, ast.ImportFrom) and node.module:
            mod = _engine_module(node.module)
            if mod is None:
                continue
            for a in node.names:
                if hasattr(mod, a.name):
                    obj = getattr(mod, a.name)
                else:
                    try:
                        obj = _engine_module(f"{node.module}.{a.name}")
                    except ImportError:
                        missing.append(f"{path}: {node.module}.{a.name}")
                        continue
                if isinstance(obj, type(os)):
                    bound[a.asname or a.name] = obj
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in bound
        ):
            name = f"{node.value.id}.{node.attr}"
            if hasattr(bound[node.value.id], node.attr):
                resolved.add(name)
            else:
                missing.append(f"{path}: {name}")
    return resolved, missing


def test_tools_compile_and_resolve_engine_names():
    """Every tools/*.py byte-compiles, and every engine name it uses
    exists. A tool that still names a deleted kernel fails here, not at
    its next manual run."""
    import glob
    import os

    tools_dir = os.path.join(os.path.dirname(__file__), "..", "tools")
    paths = sorted(glob.glob(os.path.join(tools_dir, "*.py")))
    assert paths
    missing = [m for path in paths for m in _engine_names(path)[1]]
    assert not missing, missing


def test_benchmark_engine_names_resolve(perfbench_workloads):
    """The engine names the benchmark in perfbench/ relies on exist: the
    functions perfbench/tracing.py wraps as layers, every engine name
    perfbench/run.py reads, and every query its workloads run (with the
    oracle its check compares against). A rename in the engine fails
    here instead of silently dropping a traced layer or failing a
    workload at benchmark time."""
    import importlib
    import os

    from perfbench import tracing

    for mod_name, fn_name, _layer in tracing.LAYER_FUNCTIONS:
        module = importlib.import_module(mod_name)
        assert callable(getattr(module, fn_name, None)), f"{mod_name}.{fn_name}"

    run_py = os.path.join(os.path.dirname(__file__), "..", "perfbench", "run.py")
    resolved, missing = _engine_names(run_py)
    assert not missing, missing
    assert {
        "registry.QUERIES", "registry.ORACLES", "dedup.LAST_CC_MODE",
        "dedup.LAST_CC_ROUNDS", "caching.release_tracked",
        "pipeline.run_pipeline", "sinks.write_parquet",
    } <= resolved

    import __spark_entry__  # noqa: F401  (registers every query)
    from movies_etl_spark.plans import registry

    names = {n for ns in perfbench_workloads.values() for n in ns}
    assert names and not names - set(registry.QUERIES), names - set(registry.QUERIES)
    assert not names - set(registry.ORACLES), names - set(registry.ORACLES)

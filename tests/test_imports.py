"""Import hygiene.  The subpackages' ``__init__`` modules import nothing,
so a Python worker that unpickles a corpus-funnel kernel loads only what
``functions.dedup`` needs: no pandas and none of the media codecs.  And
every engine module is reached from the product by static imports, so no
module stays in the engine that only tests use, beyond the listed ones."""

import ast
import os
import subprocess
import sys


def _fresh_import(module: str) -> list[str]:
    """The pandas and codec modules a fresh interpreter loads when it
    imports ``module``."""
    code = (
        "import sys\n"
        f"import {module}\n"
        "print(sorted(m for m in sys.modules\n"
        "             if m.split('.')[0] == 'pandas' or m.endswith('_codec')))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    )
    return ast.literal_eval(out.stdout.strip())


def test_dedup_import_loads_no_pandas_or_codecs():
    assert _fresh_import("parquet_converters_spark.functions.dedup") == []


def test_registry_import_loads_no_pandas_or_codecs():
    """The query registry imports the modules of its unregistered query
    functions inside those functions, so importing it (as every driver
    process that looks up a query does) loads no pandas."""
    assert _fresh_import("parquet_converters_spark.queries") == []


PKG = "parquet_converters_spark"

#: the product: the CLI and the pipelines it runs, the session and the
#: worker daemon, the call report, and of ``queries.py`` the queries that
#: ``QUERIES`` registers
PRODUCT_ROOTS = [
    "__main__", "cli", "pipelines", "session", "observability",
    "worker_daemon", "queries",
]

#: engine modules the product does not reach, only tests.  They leave
#: together with their tests; a module may leave this set but never join it.
TEST_ONLY = {
    # the media stack
    "functions.audio_codecs", "functions.avi_codec", "functions.bmff_demux",
    "functions.flac_codec", "functions.flac_encoder", "functions.gif_codec",
    "functions.image_fingerprint", "functions.jpeg_codec",
    "functions.matroska_demux", "functions.media_codecs",
    "functions.media_craft", "functions.media_probe", "functions.multimodal",
    "functions.native_codecs", "functions.tiff_codec", "functions.vp8_codec",
    "functions.vp8_tables", "functions.webp_codec",
    # analytics and the other query families
    "functions.anomaly", "functions.audio_fingerprint",
    "functions.corpus_stats", "functions.expectations", "functions.retrieval",
    "functions.sampling", "functions.similarity", "functions.sketches",
    "operators.clustering", "operators.linalg", "operators.range_join",
    "operators.scd", "operators.skew", "operators.timeseries",
    "operators.zorder", "queries_tpch", "sources.parquet_bloom",
    "streaming", "streaming.events", "streaming.sinks",
}


def _engine_modules(root: str) -> dict[str, str]:
    """Dotted module name (relative to the package) -> file path."""
    out = {}
    for d, _, files in os.walk(os.path.join(root, PKG)):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                rel = os.path.relpath(path, os.path.join(root, PKG))[:-3]
                name = rel.replace(os.sep, ".").removesuffix("__init__").rstrip(".")
                out[name] = path
    return out


def _absolute(imp: ast.ImportFrom, package: str) -> str:
    mod = imp.module or ""
    if not imp.level:
        return mod
    parts = package.split(".") if package else []
    parts = parts[: len(parts) - imp.level + 1]
    return ".".join([PKG, *parts, *([mod] if mod else [])])


def _targets(tree: ast.AST, package: str) -> set[str]:
    """Engine modules the imports anywhere in ``tree`` name (function-local
    ones included), with the packages that contain them."""
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mod = _absolute(node, package)
            names = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            if name == PKG or name.startswith(PKG + "."):
                parts = name[len(PKG) + 1:].split(".")
                found |= {".".join(parts[:i]) for i in range(len(parts) + 1)}
    return found


def _registered(tree: ast.Module) -> ast.Module:
    """The top-level statements of ``queries.py`` that ``QUERIES`` reaches
    through the names they use; an imported name counts as its own import."""
    defs = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            defs[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            for target in getattr(node, "targets", [getattr(node, "target", None)]):
                if isinstance(target, ast.Name):
                    defs[target.id] = node
        elif isinstance(node, ast.ImportFrom):
            for a in node.names:
                defs[a.asname or a.name] = ast.ImportFrom(node.module, [a], node.level)
    body, seen, todo = [], set(), ["QUERIES"]
    while todo:
        name = todo.pop()
        if name in seen or name not in defs:
            continue
        seen.add(name)
        body.append(defs[name])
        todo += [n.id for n in ast.walk(defs[name]) if isinstance(n, ast.Name)]
    return ast.Module(body, [])


def _outside_roots(root: str) -> set[str]:
    """What the benchmark and the query adapter import from the engine, and
    the modules ``perfbench/tracing.py`` wraps (``TARGETS``)."""
    paths = [os.path.join(root, "__spark_entry__.py")]
    bench = os.path.join(root, "perfbench")
    paths += [os.path.join(bench, f) for f in os.listdir(bench) if f.endswith(".py")]
    found = set()
    for path in paths:
        tree = ast.parse(open(path).read())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG + "."):
                found.add(node.module[len(PKG) + 1:])
            if (isinstance(node, ast.Assign) and len(node.targets) == 1
                    and getattr(node.targets[0], "id", None) == "TARGETS"):
                found |= set(ast.literal_eval(node.value))
    return found


def test_every_engine_module_is_reached_from_the_product():
    """Walk the static imports from the product roots; every engine module
    but the listed test-only ones is reached, and none of those is."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    modules = _engine_modules(root)
    todo = PRODUCT_ROOTS + sorted(_outside_roots(root))
    reached = set()
    while todo:
        name = todo.pop()
        if name in reached or name not in modules:
            continue
        reached.add(name)
        path = modules[name]
        package = name if path.endswith("__init__.py") else name.rpartition(".")[0]
        tree = ast.parse(open(path).read())
        if name == "queries":
            tree = _registered(tree)
        todo += sorted(_targets(tree, package) & modules.keys())
    assert set(modules) - reached == TEST_ONLY

"""Architecture import-layering rules — the engine's analogue of the
reference's tier-1 suite (tests/test_architecture_imports.py:76
test_layer_boundaries: AST walk over every source file, dependencies may
only point inward).

Layer order (inward = allowed):

    geometry            pure numpy kernels — NO pyspark, NO intra-package
    index               cell/skew column algebra — geometry only
    functions           scalar/decode library — geometry, index
    corpus              synthetic data + canonical JSON — geometry at
                        module level (the sources.dxf_files seam is a
                        sanctioned FUNCTION-LEVEL lazy import: dxf_files
                        imports corpus for the span schema, so the
                        reverse edge must stay deferred)
    operators           corpus, functions, geometry, index
    sources             + exactly operators.merge_modes (the snapshot
                        store applies the merge algebra)
    plans               sources and inward
    streaming           operators, sources and inward

Nothing in the package may import streaming or plans from a lower layer,
import tests/scripts/__spark_entry__, or make geometry Spark-dependent —
geometry doubles as the oracle-replica kernel library, so it must stay
importable without a JVM.
"""

import ast
import os

import pytest

PKG = "dxf_postgis_converter_spark"
ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), PKG)

# module-level (eager) imports allowed per layer; "" = top-level modules
_ALLOWED = {
    "geometry": set(),
    "index": {"geometry"},
    "functions": {"geometry", "index"},
    "corpus.py": {"geometry"},
    "replicas.py": set(),  # pure oracle replicas — stdlib/numpy only
    "session.py": set(),
    "operators": {"corpus", "functions", "geometry", "index"},
    "sources": {"corpus", "functions", "geometry", "index", "operators"},
    "plans": {"sources", "corpus", "functions", "geometry", "index"},
    "streaming": {"operators", "sources", "corpus", "functions",
                  "geometry", "index"},
    "__init__.py": set(),
}

# the single sanctioned upward edge: sources → operators is ONLY the
# merge algebra (snapshot_store applies ImportMode)
_SOURCES_OPERATOR_MODULES = {"operators.merge_modes"}


def _layer_of(relpath: str) -> str:
    head = relpath.split(os.sep)[0]
    return head  # subpackage dir, or the file name for top-level modules


def _files():
    for dirpath, _, files in os.walk(ROOT):
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(dirpath, f)
                yield full, os.path.relpath(full, ROOT)


def _intra_targets(tree, relpath, top_level_only):
    """Yield (package-relative dotted target, lineno, is_top_level)."""
    parts = relpath.split(os.sep)[:-1]

    def walk(node, top):
        for child in ast.iter_child_nodes(node):
            is_scope = isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef))
            if isinstance(child, ast.ImportFrom):
                if child.level:
                    up = child.level - 1
                    base = parts[:len(parts) - up] if up else list(parts)
                    tgt = ".".join(base + ([child.module]
                                           if child.module else []))
                else:
                    tgt = child.module or ""
                    if not tgt.startswith(PKG):
                        tgt = ""
                    else:
                        tgt = tgt[len(PKG) + 1:]
                if tgt:
                    yield tgt, child.lineno, top
            elif isinstance(child, ast.Import):
                for alias in child.names:
                    if alias.name.startswith(PKG + "."):
                        yield (alias.name[len(PKG) + 1:], child.lineno, top)
            if not top_level_only or not is_scope:
                yield from walk(child, top and not is_scope
                                and not isinstance(child, ast.ClassDef))

    yield from walk(tree, True)


def test_layer_boundaries():
    """Module-level imports respect the inward-only layer order; the one
    sources→operators edge is pinned to exactly the merge algebra."""
    violations = []
    for full, rel in _files():
        layer = _layer_of(rel)
        allowed = _ALLOWED.get(layer)
        if allowed is None:
            violations.append(f"{rel}: unknown layer {layer!r} — "
                              f"add it to the layering table")
            continue
        tree = ast.parse(open(full, encoding="utf-8").read(), filename=full)
        for tgt, lineno, top in _intra_targets(tree, rel, top_level_only=False):
            t_layer = tgt.split(".")[0]
            if t_layer == layer.removesuffix(".py").rstrip(os.sep) or \
                    t_layer == layer.split(".")[0]:
                continue
            if layer == "sources" and t_layer == "operators":
                if tgt not in _SOURCES_OPERATOR_MODULES:
                    violations.append(
                        f"{rel}:{lineno} sources may import ONLY "
                        f"{_SOURCES_OPERATOR_MODULES}, got {tgt!r}")
                continue
            if top and t_layer not in allowed:
                violations.append(
                    f"{rel}:{lineno} {layer} eagerly imports {tgt!r} "
                    f"(allowed: {sorted(allowed)})")
            # function-level lazy imports are the sanctioned cycle-breaker
            # (corpus → sources.dxf_files), but even lazily nothing may
            # reach UP into streaming/plans from a lower layer
            if not top and t_layer in ("streaming", "plans") \
                    and layer not in ("streaming", "plans"):
                violations.append(
                    f"{rel}:{lineno} {layer} reaches up into {tgt!r}")
    assert not violations, "\n".join(violations)


def test_geometry_is_spark_free():
    """geometry/ kernels double as the DuckDB-oracle replicas — they must
    import without a JVM (no pyspark anywhere, incl. lazily)."""
    bad = []
    for full, rel in _files():
        if _layer_of(rel) != "geometry":
            continue
        tree = ast.parse(open(full, encoding="utf-8").read(), filename=full)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            else:
                continue
            for n in names:
                if n.split(".")[0] == "pyspark":
                    bad.append(f"{rel}:{node.lineno} imports {n}")
    assert not bad, "\n".join(bad)


def test_no_package_module_imports_entry_or_tests():
    bad = []
    for full, rel in _files():
        src = open(full, encoding="utf-8").read()
        tree = ast.parse(src, filename=full)
        for node in ast.walk(tree):
            names = []
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module:
                names = [node.module]
            for n in names:
                head = n.split(".")[0]
                if head in ("__spark_entry__", "tests", "scripts", "bench"):
                    bad.append(f"{rel}:{node.lineno} imports {n}")
    assert not bad, "\n".join(bad)


# the row-wise stages cross the Python boundary as mapInArrow only; their
# batches are pyarrow end to end
_ARROW_ONLY = ("functions/arrow_batch.py", "functions/decode.py",
               "operators/reconstruct.py", "operators/insert_expand.py",
               "operators/area_selection.py")


def test_arrow_stages_import_no_pandas():
    bad = []
    for rel in _ARROW_ONLY:
        full = os.path.join(ROOT, *rel.split("/"))
        tree = ast.parse(open(full, encoding="utf-8").read(), filename=full)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            else:
                continue
            bad += [f"{rel}:{node.lineno} imports {n}" for n in names
                    if n.split(".")[0] == "pandas"]
    assert not bad, "\n".join(bad)

"""The public operator namespace and the call options it exposes."""

import ast
import pathlib

import gdelt_extractor_spark
import gdelt_extractor_spark.operators as O

PKG = pathlib.Path(gdelt_extractor_spark.__file__).parent

# Drawing a new sample when the salt changes is these operators'
# documented contract; every other hash space is a module constant.
SAMPLING_OPERATORS = {
    "sample_split",
    "stratified_sample",
    "mix_sources",
    "weighted_sample",
    "cluster_split",
    "balance_classes",
    "bootstrap_ci",
}


def test_star_import_exports_every_imported_operator():
    """``from gdelt_extractor_spark.operators import *`` succeeds and
    exports every public name ``operators/__init__.py`` imports."""
    ns: dict = {}
    exec("from gdelt_extractor_spark.operators import *", ns)
    tree = ast.parse((PKG / "operators" / "__init__.py").read_text())
    imported = {
        alias.asname or alias.name
        for node in tree.body
        if isinstance(node, ast.ImportFrom) and node.level == 1
        for alias in node.names
    }
    public = {n for n in imported if not n.startswith("_")}
    assert public == set(O.__all__)
    assert public <= set(ns)


def test_only_sampling_operators_take_a_salt():
    """No public function has a ``salt``, ``order_salt`` or ``seed``
    parameter except the sampling operators."""
    found = {}
    for path in PKG.rglob("*.py"):
        for fn in ast.walk(ast.parse(path.read_text())):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) and not (
                fn.name.startswith("_")
            ):
                args = fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs
                hit = {a.arg for a in args} & {"salt", "order_salt", "seed"}
                if hit:
                    found[fn.name] = hit
    assert set(found) == SAMPLING_OPERATORS
    assert all(v == {"salt"} for v in found.values())

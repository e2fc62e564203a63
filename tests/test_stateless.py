"""No state survives between calls: every build computes its own
inputs, and no engine module keeps a module-level store that a later
call could read."""

from __future__ import annotations

import ast
import os

import pytest

from p4_mapreduce_spark.operators.ml_cluster import fit_kmeans_centroids
from p4_mapreduce_spark.operators.similarity import _pq_codebook, _query_vectors
from p4_mapreduce_spark.sources.tables import load
from tests.test_tables import _jobs_run_by

_ENGINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "p4_mapreduce_spark",
)

# The query catalog is filled at import and read-only afterwards.
_ALLOWED_STORES = {"registry.py:REGISTRY"}


@pytest.mark.parametrize(
    "build", [_query_vectors, _pq_codebook, fit_kmeans_centroids]
)
def test_fits_run_their_own_jobs_every_call(spark, sf_dir, build):
    """Two builds on the same input each run the same, non-zero number
    of jobs: the second one reuses nothing from the first."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    first = _jobs_run_by(spark, lambda: build(emb))
    second = _jobs_run_by(spark, lambda: build(emb))
    assert first > 0
    assert second == first


def _is_empty_store(node: ast.expr) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.List):
        return not node.elts
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in ("dict", "list", "set")
        and not node.args
        and not node.keywords
    )


def test_no_module_level_stores():
    """No engine module binds a module-level name to an empty ``{}``,
    ``[]`` or ``set()``: that is the shape of a cross-call memo."""
    found = set()
    for dirpath, _, files in os.walk(_ENGINE):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in tree.body:
                if isinstance(node, ast.Assign):
                    targets = node.targets
                elif isinstance(node, ast.AnnAssign) and node.value:
                    targets = [node.target]
                else:
                    continue
                if _is_empty_store(node.value):
                    rel = os.path.relpath(path, _ENGINE)
                    found |= {f"{rel}:{ast.unparse(t)}" for t in targets}
    assert found == _ALLOWED_STORES

"""The shared tiled cosine kernel in llm/dedup.py (_PAIR_TILE and its
reducers): exact equality pins, not approximate ones.

- Real operators are forced through the MULTI-BLOCK path by shrinking
  the tile to a few rows (every bucket/cell becomes a "hot bucket"
  spanning many tiles); the result must equal the default run.
- Each reducer (running top-k, running first-max argmax, threshold
  emit) must replay a dense reference under planted exact ties at every
  tile size.
- Zero-norm vectors fail loudly instead of diverging from the oracle.
- The per-dimension fold exists once in the package, and so does each
  Spark-column vector fold (dot, squared distance, cosine, EWMA).
"""

from __future__ import annotations

import ast
import glob
import inspect
import os

import numpy as np
import pytest

from data_ingestion_poc_spark import registry
from data_ingestion_poc_spark.llm import dedup as dedup_mod
from data_ingestion_poc_spark.llm.dedup import (
    _argmax_ids_tiled,
    _cos_blocks,
    _threshold_cells,
    _topk_ids_tiled,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "name",
    [
        "dedup_embedding_cosine",   # _bucket_pairs (threshold, upper)
        "dedup_semantic",           # _cell_dups (argmax, earlier-only)
        "embed_hubness_ivf",        # _assign (argmax) + _cell_topk
        "sim_search_nsw",           # _assign (argmax) + _cell_knn
        "dedup_embedding_recall",   # _exact_pairs (threshold, anchors)
    ],
)
def test_tiled_kernels_match_dense_on_hot_buckets(spark, sf_dir, name, monkeypatch):
    """tile=3 forces every bucket/cell through many blocks (sf0.001 has
    ~500 vectors, cells of ~20 rows -> 7+ blocks each); the collected
    result must equal the default run bit-for-bit. Every site reads the
    tile from dedup._PAIR_TILE on the driver and captures it into its
    kernel closure, so this one patch reaches the executors through
    pickling — and fails if the name moves."""
    fn = registry.get(name).fn
    base = _rows(fn(spark, sf_dir))
    monkeypatch.setattr(dedup_mod, "_PAIR_TILE", 3)
    tiled = _rows(fn(spark, sf_dir))
    assert tiled == base


@pytest.mark.parametrize(
    "case",
    ["topk", "argmax", "argmax_earlier", "threshold_upper", "threshold_earlier"],
)
def test_tiled_reducers_replay_dense_reference_under_ties(case):
    """Adversarial ties: duplicated vectors (equal cosines everywhere).
    Top-k must rank by ascending id, exactly np.lexsort((ids, -C[i]));
    argmax must keep the smallest id among equal maxima; threshold emit
    must yield each qualifying pair exactly once — at every tile size,
    against a dense reference computed here."""
    rng = np.random.RandomState(7)
    base = rng.randn(9, 4)
    V = np.vstack([base, base[:4], base[:2]])  # planted exact ties
    n = len(V)
    ids = np.arange(100, 100 + n, dtype=np.int64)
    if case == "topk":
        rng.shuffle(ids)  # id order decoupled from row order
    nsq, acc = np.zeros(n), np.zeros((n, n))
    for d in range(V.shape[1]):
        nsq = nsq + V[:, d] * V[:, d]
        acc = acc + np.outer(V[:, d], V[:, d])
    nrm = np.sqrt(nsq)
    C = acc / np.outer(nrm, nrm)

    if case == "topk":
        k = 5
        dense = []
        for i in range(n):
            order = np.lexsort((ids, -C[i]))
            order = order[ids[order] != ids[i]][:k]
            dense.append(list(ids[order]))

        def run(tile):
            return [list(r) for r in _topk_ids_tiled(ids, V, nrm, k, tile)]

    elif case.startswith("argmax"):
        tri = -1 if case == "argmax_earlier" else 0
        dense_cos, dense_id = [], []
        for i in range(n):
            row = C[i, :i] if tri else C[i]
            if row.size == 0:
                dense_cos.append(-np.inf)
                dense_id.append(0)
            else:
                dense_cos.append(row.max())
                dense_id.append(ids[np.flatnonzero(row == row.max())].min())
        dense = (dense_cos, dense_id)
        # rows 0, 9 and 13 are one vector: all three pick row 0's id
        # (row 0 itself has no earlier candidate)
        tied = [9, 13] if tri else [0, 9, 13]
        assert [dense_id[i] for i in tied] == [ids[0]] * len(tied)

        def run(tile):
            cos, best = _argmax_ids_tiled(V, V, nrm, nrm, ids, tile, tri)
            return (list(cos), list(best))

    else:
        tri = 1 if case == "threshold_upper" else -1
        dense = sorted(
            (ids[i], ids[j], C[i, j])
            for i in range(n)
            for j in range(n)
            if (j - i) * tri > 0 and C[i, j] >= 0.30
        )
        assert dense

        def run(tile):
            cells = _threshold_cells(_cos_blocks(V, V, nrm, nrm, tile, tri), 0.30)
            return sorted(
                (ids[i], ids[j], c)
                for bi, bj, bc in cells
                for i, j, c in zip(bi, bj, bc)
            )

    for tile in (1, 2, 3, 7, 64):
        assert run(tile) == dense, f"tile={tile}"


def test_cell_kernels_assert_on_zero_norm_vectors():
    """A zero-norm vector's NaN cosines would silently rank LAST in the
    NumPy kernels while the SQL window they replay ranks NaN FIRST
    (r14 ADVICE): the kernels must fail loudly instead of diverging."""
    V = np.array([[1.0, 0.0], [0.0, 0.0]])
    ids = np.array([1, 2], dtype=np.int64)
    nrm = np.sqrt((V * V).sum(axis=1))
    with pytest.raises(AssertionError):
        _topk_ids_tiled(ids, V, nrm, 1, 2)
    with pytest.raises(AssertionError):
        _argmax_ids_tiled(V, V, nrm, nrm, ids, 2)


def test_one_per_dimension_fold_in_the_package():
    """Regrowth guard: a range() loop whose body uses its index and
    accumulates `x = x + ...` is a per-dimension fold, and the package
    has exactly two — dedup._dot_fold and dedup.row_norms. Fold through
    those instead of writing a copy."""
    folds = []
    for path in glob.glob(
        os.path.join(REPO, "data_ingestion_poc_spark", "**", "*.py"),
        recursive=True,
    ):
        with open(path) as f:
            tree = ast.parse(f.read())
        for loop in ast.walk(tree):
            if not (
                isinstance(loop, ast.For)
                and isinstance(loop.target, ast.Name)
                and getattr(getattr(loop.iter, "func", None), "id", "") == "range"
            ):
                continue
            uses_index = any(
                getattr(node, "id", "") == loop.target.id
                for stmt in loop.body
                for node in ast.walk(stmt)
            )
            accumulates = any(
                isinstance(stmt, ast.Assign)
                and isinstance(stmt.value, ast.BinOp)
                and ast.unparse(stmt.targets[0]) == ast.unparse(stmt.value.left)
                for stmt in loop.body
            )
            if uses_index and accumulates:
                folds.append((os.path.relpath(path, REPO), loop.lineno))
    kernel = [
        range(start, start + len(lines))
        for lines, start in map(
            inspect.getsourcelines, (dedup_mod._dot_fold, dedup_mod.row_norms)
        )
    ]
    stray = [
        f"{path}:{line}"
        for path, line in folds
        if path != "data_ingestion_poc_spark/llm/dedup.py"
        or not any(line in span for span in kernel)
    ]
    assert stray == [], f"per-dimension fold outside the shared kernel: {stray}"
    assert len(folds) == 2


def _is_call(node, name: str) -> bool:
    """`node` is a call of `F.<name>` or of a bare `<name>`."""
    func = getattr(node, "func", None)
    return getattr(func, "attr", getattr(func, "id", None)) == name


def _is_pair_product(lam) -> bool:
    """A zip_with lambda `x * y`, `x.cast(..) * y.cast(..)` or
    `(x - y) * (x - y)` over its own parameters."""
    params = {a.arg for a in lam.args.args}

    def factor(node):
        if isinstance(node, ast.Name):
            return node.id in params
        if _is_call(node, "cast"):
            return factor(node.func.value)
        return (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Sub)
            and factor(node.left)
            and factor(node.right)
        )

    body = lam.body
    return (
        isinstance(body, ast.BinOp)
        and isinstance(body.op, ast.Mult)
        and factor(body.left)
        and factor(body.right)
    )


def _spark_vector_fold_sites(root: str) -> dict[str, list[tuple[str, int]]]:
    """(path, line) of every Spark-column pair fold, two-norm cosine ratio
    and half-life EWMA zip_with in the package under `root`."""
    found = {"fold": [], "cosine": [], "ewma": []}
    for path in glob.glob(
        os.path.join(root, "data_ingestion_poc_spark", "**", "*.py"),
        recursive=True,
    ):
        with open(path) as f:
            tree = ast.parse(f.read())
        rel = os.path.relpath(path, root)
        for node in ast.walk(tree):
            if (
                _is_call(node, "aggregate")
                and node.args
                and _is_call(node.args[0], "zip_with")
                and isinstance(node.args[0].args[-1], ast.Lambda)
                and _is_pair_product(node.args[0].args[-1])
            ):
                found["fold"].append((rel, node.lineno))
            if (
                isinstance(node, ast.BinOp)
                and isinstance(node.op, ast.Div)
                and isinstance(node.right, ast.BinOp)
                and isinstance(node.right.op, ast.Mult)
                and all(
                    _is_call(side, "sqrt") and _is_call(side.args[0], "dot_double")
                    for side in (node.right.left, node.right.right)
                )
            ):
                found["cosine"].append((rel, node.lineno))
            if _is_call(node, "zip_with") and any(
                _is_call(sub, "pow") and ast.unparse(sub.args[0]) == "F.lit(0.5)"
                for sub in ast.walk(node)
            ):
                found["ewma"].append((rel, node.lineno))
    return found


def test_one_spark_vector_fold_per_formula_in_the_package():
    """Regrowth guard for the Spark-column vector folds: an aggregate over
    a zip_with product or squared difference sits only in dedup.dot_double
    and dedup.sq_l2, a ratio over two sqrt(dot_double) norms only in
    dedup.cosine_double, and the half-life EWMA zip_with only in
    windows._half_life_ewma. Call those instead of writing a copy."""
    from data_ingestion_poc_spark.operators import windows as windows_mod

    found = _spark_vector_fold_sites(REPO)
    homes = {
        "fold": (dedup_mod.dot_double, dedup_mod.sq_l2),
        "cosine": (dedup_mod.cosine_double,),
        "ewma": (windows_mod._half_life_ewma,),
    }
    for kind, fns in homes.items():
        spans = []
        for fn in fns:
            lines, start = inspect.getsourcelines(fn)
            path = os.path.relpath(inspect.getsourcefile(fn), REPO)
            spans.append((path, range(start, start + len(lines))))
        stray = [
            f"{path}:{line}"
            for path, line in found[kind]
            if not any(path == p and line in span for p, span in spans)
        ]
        assert stray == [], f"{kind} copy outside its shared helper: {stray}"
        assert len(found[kind]) == len(fns)

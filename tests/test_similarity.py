"""Hyperplane-LSH bucketing (operators/similarity.py) and IVF
nearest-cell kernels (operators/ivf.py): guards, bit-identity of the
single-constant SQL kernels with a left-to-right float64 fold, and an
AST guard that the ANN pipeline keeps one copy of each step."""

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from ubw_spark.operators.similarity import hyperplane_bucket_array


def test_hyperplane_bucket_array_rejects_more_than_31_bits(spark):
    """The bucket id accumulates ``shiftleft(1, j)`` in a 32-bit int;
    bits=32 would overflow, so it is refused before any plan is
    built."""
    df = spark.createDataFrame([([0.5, -0.5],)], "embedding array<double>")
    with pytest.raises(ValueError, match="bits=32"):
        hyperplane_bucket_array(df, dim=2, bits=32, tables=1)
    assert hyperplane_bucket_array(df, dim=2, bits=31, tables=1).count() == 1


def _emb(spark, n=40, dim=16):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    (F.col("id") * (i + 3) % 17) / 7.0
                    - ((F.col("id") + i) % 5) / 3.0
                ).cast("float")
                for i in range(dim)
            ]
        ).alias("embedding"),
    )


def test_hyperplane_bucket_array_matches_reference_fold(spark):
    from ubw_spark.operators.similarity import (
        _hyperplanes,
        hyperplane_bucket_array,
    )

    dim, bits, tables, seed = 16, 4, 16, 42
    emb = _emb(spark, dim=dim)
    got = {
        r["vec_id"]: [(s["t"], s["b"]) for s in r["__tb"]]
        for r in hyperplane_bucket_array(
            emb, "embedding", dim, bits, tables, seed
        ).collect()
    }
    planes = _hyperplanes(dim, bits, tables, seed)
    for r in emb.collect():
        exp = []
        for t in range(tables):
            b = 0
            for j in range(bits):
                acc = 0.0
                for x, c in zip(r["embedding"], planes[t, j]):
                    acc = acc + float(x) * float(c)  # left-to-right
                if acc >= 0.0:
                    b += 1 << j
            exp.append((t, b))
        assert got[r["vec_id"]] == exp


@pytest.mark.parametrize("nprobe", [1, 4])
def test_nearest_cells_matches_driver_reference(spark, nprobe):
    """The plan fold and the driver-side pick agree on the whole ranked
    prefix (every IVF probe picks its cells driver-side, every cell
    assignment in the plan), and cell assignment is its first cell."""
    from ubw_spark.operators.ivf import (
        _nearest_cells,
        assign_ivf_cells,
        nearest_cells_py,
    )

    cents = [
        [0.1 * i + 0.01 * j for j in range(16)] for i in range(8)
    ]
    emb = _emb(spark, dim=16)
    got = {
        r["vec_id"]: (list(r["cells"]), r["ivf_cell"])
        for r in assign_ivf_cells(emb, cents).select(
            "vec_id",
            "ivf_cell",
            _nearest_cells(F.col("embedding"), cents, nprobe).alias("cells"),
        ).collect()
    }
    for r in emb.collect():
        exp = nearest_cells_py(
            [float(x) for x in r["embedding"]], cents, nprobe
        )
        assert got[r["vec_id"]] == (exp, exp[0])


def test_lsh_buckets_reject_corrupt_vectors(spark):
    """code-review r11: NULL/wrong-dim vectors used to sign-bit to 0
    and pile into bucket 0 of every table (silent candidate blowup or
    capped recall-0 drop) — now a loud executor-side error."""
    from ubw_spark.operators.similarity import hyperplane_lsh_buckets

    bad = spark.createDataFrame(
        [(1, [0.1] * 8), (2, [0.5] * 5)], "id bigint, embedding array<float>"
    )
    with pytest.raises(Exception, match="non-8-dim"):
        hyperplane_lsh_buckets(bad, dim=8, bits=4, tables=2).agg(
            F.sum("lsh_bucket")
        ).collect()


_PKG = pathlib.Path(__file__).resolve().parents[1] / "ubw_spark"


def _owners(match) -> set[str]:
    """``path::function`` of the innermost function holding each node
    under ubw_spark/ for which ``match(node)`` is true."""
    found = set()

    def visit(node, path, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if match(node):
            found.add(f"{path}::{fn}")
        for child in ast.iter_child_nodes(node):
            visit(child, path, fn)

    for f in sorted(_PKG.rglob("*.py")):
        visit(ast.parse(f.read_text()), f.relative_to(_PKG).as_posix(), None)
    return found


def _call(node, name: str) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    return (isinstance(f, ast.Attribute) and f.attr == name) or (
        isinstance(f, ast.Name) and f.id == name
    )


def _double_product(node) -> bool:
    """``x.cast("double") * y.cast("double")``: a float64 pairwise product."""
    return (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.Mult)
        and all(
            _call(side, "cast")
            and [a.value for a in side.args if isinstance(a, ast.Constant)]
            == ["double"]
            for side in (node.left, node.right)
        )
    )


def test_ann_pipeline_has_one_copy_of_each_step():
    """The vector-search family keeps one definition per step; a copy
    that comes back (a second cosine, dispatch, cell pick or rerank)
    fails here without a Spark session."""
    # one cosine: the dot fold, the norm fold and the dot/(norm·norm)
    # assembly each live in one function of operators/similarity.py
    assert _owners(
        lambda n: _call(n, "zip_with")
        and any(
            isinstance(a, ast.Lambda) and _double_product(a.body)
            for a in n.args
        )
    ) == {"operators/similarity.py::dot"}
    assert _owners(
        lambda n: _call(n, "sqrt") and n.args and _call(n.args[0], "aggregate")
    ) == {"operators/similarity.py::norm"}
    assert _owners(
        lambda n: isinstance(n, ast.BinOp)
        and isinstance(n.op, ast.Div)
        and isinstance(n.right, ast.BinOp)
        and _call(n.right.left, "norm")
        and _call(n.right.right, "norm")
    ) == {"operators/similarity.py::cosine_col"}
    # one k dispatch between the literal fold and the Arrow argmin
    assert {
        o.split("::")[0]
        for o in _owners(
            lambda n: (isinstance(n, ast.Name) and n.id == "_VECTORIZED_ASSIGN_MIN_K")
            or (
                isinstance(n, ast.alias) and n.name == "_VECTORIZED_ASSIGN_MIN_K"
            )
        )
    } == {"operators/ivf.py"}
    # one nearest-cell pick per side: the plan fold and the driver fold
    assert _owners(
        lambda n: isinstance(n, ast.FunctionDef)
        and "nearest" in n.name
        and "cell" in n.name
    ) == {"operators/ivf.py::_nearest_cells", "operators/ivf.py::nearest_cells_py"}
    assert _owners(
        lambda n: isinstance(n, ast.BinOp)
        and isinstance(n.op, ast.Mult)
        and isinstance(n.left, ast.BinOp)
        and isinstance(n.left.op, ast.Sub)
        and ast.dump(n.left) == ast.dump(n.right)
    ) == {"operators/ivf.py::nearest_cells_py"}
    # one rerank window; the BM25 rankers keep their rank column as
    # output, a different contract
    assert _owners(
        lambda n: _call(n, "partitionBy")
        and [a.value for a in n.args if isinstance(a, ast.Constant)] == ["qid"]
        and len(n.args) == 1
    ) <= {
        "operators/similarity.py::rerank_topk",
        "queries/similarity.py::sim_recall_report",
        "operators/retrieval.py::probe_term_index_batch",
        "queries/retrieval_q.py::search_eval_metrics",
    }

"""The exact stage of the vector tier: one block top-k kernel, one pair
scorer, one normalization, one signature function, one partial cut.

Tied scores at the k-th place must go to the smallest ``vec_id`` on
every path, whether the tied rows share an Arrow batch or not, because
the final ``per_group_topk(tie_break=["vec_id"])`` can only choose
among the rows a per-batch cut let through.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from redshells_spark.similarity.ann import (
    assign_to_centroids,
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)

SIMILARITY = Path(__file__).resolve().parents[1] / "redshells_spark" / "similarity"

TIED = [1.0, 0.5, 0.1, 0.0]
# vec 1 is the query itself; 3, 5, 7 and 9 tie for rank 2
TIE_ROWS = [
    (7, TIED),
    (1, [1.0, 0.2, 0.0, 0.0]),
    (5, TIED),
    (2, [0.0, 1.0, 0.0, 0.5]),
    (9, TIED),
    (3, TIED),
    (4, [0.0, 1.0, 0.0, 0.5]),
]
SCHEMA = "vec_id long, embedding array<double>"


def _corpus(spark, layout):
    if layout == "one_batch":
        return spark.createDataFrame(TIE_ROWS, SCHEMA).coalesce(1)
    # rows 0-2 in partition 0, rows 3-6 in partition 1: tied rows in both
    return spark.createDataFrame(spark.sparkContext.parallelize(TIE_ROWS, 2), SCHEMA)


def _topk(method, queries, corpus, k):
    if method == "brute_force_topk":
        return brute_force_topk(queries, corpus, k=k)
    if method == "lsh_topk":
        # 1-bit blocks with multiprobe: every row shares a bucket with the query
        return lsh_topk(queries, corpus, k=k, num_planes=4, num_blocks=4, multiprobe=1)
    cents = [[1.0, 0.0, 0.0, 0.0]]
    return ivf_topk(queries, assign_to_centroids(corpus, cents), cents, k=k, nprobe=1)


@pytest.mark.parametrize("layout", ["one_batch", "two_partitions"])
@pytest.mark.parametrize("method", ["brute_force_topk", "lsh_topk", "ivf_topk"])
def test_ties_at_kth_place_go_to_smallest_vec_id(spark, method, layout):
    corpus = _corpus(spark, layout)
    queries = spark.createDataFrame([(100, [1.0, 0.2, 0.0, 0.0])], "query_id long, embedding array<double>")
    got = sorted((r["rank"], r["vec_id"]) for r in _topk(method, queries, corpus, 2).collect())
    assert got == [(1, 1), (2, 3)]


def test_registry_brute_force_topk_breaks_ties_on_smallest_vec_id(spark, tmp_path):
    """The registry query on a table whose 10th place for query 0 is a
    five-way tie (vec 20-24 identical), all in one file and batch."""
    from redshells_spark.queries import get_queries

    dim = 8

    def unit(i):
        return [1.0 if j == i else 0.0 for j in range(dim)]

    rows = [(0, unit(0))]
    rows += [(vid, [x + 0.1 * (vid - 9) * y for x, y in zip(unit(0), unit(1 + vid % 7))])
             for vid in range(10, 18)]
    rows += [(vid, [1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0]) for vid in (24, 23, 22, 21, 20)]
    table = pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
        "label": pa.array([0] * len(rows), pa.int32()),
    })
    pq.write_table(table, tmp_path / "embeddings.parquet")
    out = get_queries()["brute_force_topk"](spark, str(tmp_path))
    top = sorted((r["rank"], r["vec_id"]) for r in out.collect() if r["query_id"] == 0)
    assert top == [(1, 0)] + [(rank, vid) for rank, vid in zip(range(2, 10), range(10, 18))] + [(10, 20)]


def _tree(name):
    return ast.parse((SIMILARITY / name).read_text())


def _owners(tree, match):
    """The top-level function (None: module level) of every node
    ``match`` accepts."""
    owners = []
    for top in tree.body:
        name = top.name if isinstance(top, ast.FunctionDef) else None
        owners += [name for node in ast.walk(top) if match(node)]
    return owners


def _is_sign_pack(node):
    # (proj > 0).astype(...) << shifts: the sign-bit signature
    return (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.LShift)
        and any(isinstance(c, ast.Compare) and isinstance(c.ops[0], ast.Gt) for c in ast.walk(node.left))
    )


def test_one_exact_core_in_ann_and_allpairs():
    ann, allpairs = _tree("ann.py"), _tree("allpairs.py")
    norm = lambda n: isinstance(n, ast.Attribute) and ast.unparse(n) == "np.linalg.norm"  # noqa: E731
    assert _owners(allpairs, norm) == ["_unit_rows"] and _owners(ann, norm) == []
    cross = lambda n: isinstance(n, ast.Attribute) and n.attr == "crossJoin"  # noqa: E731
    assert _owners(ann, cross) == _owners(allpairs, cross) == []
    assert _owners(ann, _is_sign_pack) == ["_signs"] and _owners(allpairs, _is_sign_pack) == []
    cut = lambda n: isinstance(n, ast.Attribute) and n.attr in {"partition", "argpartition"}  # noqa: E731
    assert _owners(ann, cut) == ["_partial_topk"] and _owners(allpairs, cut) == []

"""Streaming vector index — a k-NN graph maintained over an embedding
stream (the graph-ANN counterpart of ``streaming/binary_index.py``).

First micro-batch bootstraps the graph with NN-descent
(``similarity/knn_graph.knn_graph_nn_descent``); every later batch is
an HNSW-style incremental insert (``knn_graph_insert``): beam-search
the existing graph per new vector, connect to the top-k, offer
reversed edges. Per-batch cost is O(batch · ef · k) — independent of
the accumulated corpus size, which is the whole point of maintaining
an index instead of rebuilding one.

State on parquet: ``vectors/`` (the accumulated corpus) and ``graph/``
(src, dst, score, rank). Incremental inserts drift from a fresh
rebuild by construction; quality is recall-gated in
``tests/test_streaming_knn_index.py``, and :meth:`KnnGraphIngest.refresh`
runs the periodic NN-descent compaction that restores build quality —
the same rhythm as the IVF/binary streaming indexes.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from redshells_spark.similarity.knn_graph import (
    graph_search_topk,
    knn_graph_insert,
    knn_graph_nn_descent,
)
from redshells_spark.streaming.state import fold_state, read_state

_GRAPH_SCHEMA = "src long, dst long, score double, rank int"


@dataclass
class KnnGraphIngest:
    """foreachBatch processor maintaining the vector corpus + graph."""

    base_path: str
    k: int = 10
    build_iterations: int = 3
    ef: int = 20
    rounds: int = 3
    id_column: str = "vec_id"
    embedding_column: str = "embedding"
    seed: int = 7
    stats: list[dict] = field(default_factory=list)

    @property
    def _vectors_schema(self) -> str:
        return f"{self.id_column} long, {self.embedding_column} array<float>"

    def _vectors(self, spark: SparkSession) -> DataFrame:
        return read_state(spark, f"{self.base_path}/vectors", self._vectors_schema)

    def _graph(self, spark: SparkSession) -> DataFrame:
        return read_state(spark, f"{self.base_path}/graph", _GRAPH_SCHEMA)

    def _fold_graph(self, graph: DataFrame, batch: DataFrame) -> DataFrame:
        """The graph after inserting ``batch``: NN-descent bootstraps
        an empty index, later batches are beam-search inserts."""
        prev_v = self._vectors(batch.sparkSession)
        if prev_v.isEmpty():
            graph = knn_graph_nn_descent(
                batch,
                k=self.k,
                iterations=self.build_iterations,
                id_column=self.id_column,
                embedding_column=self.embedding_column,
                seed=self.seed,
            )
        else:
            graph = knn_graph_insert(
                graph,
                prev_v,
                batch,
                k=self.k,
                ef=self.ef,
                rounds=self.rounds,
                id_column=self.id_column,
                embedding_column=self.embedding_column,
                seed=self.seed + 6,
            )
        return graph.select("src", "dst", "score", "rank")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(self.id_column, self.embedding_column)
        # the graph fold reads the old vectors: it is pinned (and its
        # path overwritten) before the vectors fold overwrites them
        fold_state(
            spark, f"{self.base_path}/graph", _GRAPH_SCHEMA,
            lambda graph: self._fold_graph(graph, batch),
        )
        _, n_vectors = fold_state(
            spark, f"{self.base_path}/vectors", self._vectors_schema,
            lambda prev_v: prev_v.unionByName(batch),
        )
        self.stats.append({"batch_id": batch_id, "n_vectors": n_vectors})

    def search(
        self, spark: SparkSession, queries: DataFrame, k: int | None = None
    ) -> DataFrame:
        """Beam-search the maintained index → (query_id, vec_id,
        score, rank)."""
        return graph_search_topk(
            self._graph(spark),
            self._vectors(spark),
            queries,
            k=k or self.k,
            ef=max(self.ef, 2 * (k or self.k)),
            rounds=self.rounds + 1,
            id_column=self.id_column,
            embedding_column=self.embedding_column,
            seed=self.seed + 13,
        )

    def refresh(self, spark: SparkSession) -> None:
        """Periodic compaction: rebuild the graph with NN-descent over
        the accumulated corpus (restores insert drift)."""
        rebuilt = knn_graph_nn_descent(
            self._vectors(spark),
            k=self.k,
            iterations=self.build_iterations,
            id_column=self.id_column,
            embedding_column=self.embedding_column,
            seed=self.seed,
        ).localCheckpoint(eager=True)
        rebuilt.write.mode("overwrite").parquet(f"{self.base_path}/graph")

"""Streaming kNN: a query stream answered exactly from a static index.

The reference's query loop is batch-only (rgraph.cpp's one-shot
build-then-query, SURVEY §2.9); this closes the remaining streaming
gap on the QUERY side: a Structured-Streaming source of query points
(e.g. pages arriving in the warc_ts order of the input_hint) is
answered per micro-batch against the session's PERSISTED cover-tree
index without ever rebuilding it.

Design (Spark-first): stream-static cogroup is not expressible inside
a single streaming plan, so each micro-batch runs the engine's exact
batch plan via ``foreachBatch`` — phase-1 broadcast cell-cover
pruning, candidates-only shuffle, per-cell tree descent
(operators/knn.knn_over_index). This is the idiomatic Spark shape for
"stream joined against a large indexed table": the index stays
persisted hash(cell)-aligned across batches (zero per-batch index
bytes moved), pruning state is a broadcast of O(#cells) stats, and
per-batch shuffle volume is O(candidates of that batch's queries).

Delivery semantics: each epoch writes its own ``epoch=N`` partition
with overwrite, so a redelivered batch (foreachBatch is at-least-once
on retry) replaces its previous output instead of duplicating it —
end-to-end exactly-once for an idempotent parquet sink, the standard
discipline for foreachBatch sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.knn import knn_over_index, knn_over_index_chain
from ..operators.partition import CellStats


def answer_batch(
    index: DataFrame | list[DataFrame],
    batch: DataFrame,
    k: int,
    d: int,
    stats: CellStats,
) -> DataFrame:
    """One micro-batch of (id, vec) queries against the static index —
    a plain batch DataFrame in, exact (src, dst, rank, dist) out.
    ``index`` is either one trees DataFrame or an upsert-generation
    chain (operators/upsert.read_index_chain output)."""
    q = batch.select("id", "vec")
    if isinstance(index, list):
        return knn_over_index_chain(
            index, q, k=k, d=d, stats=stats, self_join=False
        )
    return knn_over_index(index, q, k=k, d=d, stats=stats, self_join=False)


def run_stream_knn(
    spark: SparkSession,
    qstream: DataFrame,
    index: DataFrame | list[DataFrame],
    stats: CellStats,
    dst_path: str,
    checkpoint_path: str,
    k: int = 10,
    d: int = 3,
) -> None:
    """Drain the query stream through the index with one availableNow
    pass (same offset-checkpoint resume contract as run_ingest): every
    pending micro-batch is answered exactly and landed under
    ``dst_path/epoch=N``. Restarting after a crash resumes from the
    last committed offset and overwrites any half-written epoch."""

    def _answer(batch: DataFrame, epoch_id: int) -> None:
        out = answer_batch(index, batch, k=k, d=d, stats=stats)
        out.write.mode("overwrite").parquet(f"{dst_path}/epoch={int(epoch_id)}")

    (
        qstream.writeStream.foreachBatch(_answer)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def read_stream_knn_results(spark: SparkSession, dst_path: str) -> DataFrame:
    """All epochs' answers as one DataFrame (src, dst, rank, dist).
    Per-query results are independent, so the union over epochs equals
    the one-shot batch answer over the union of the queries — the
    batch-parity property tests/test_streaming_multimodal.py pins."""
    return spark.read.option("basePath", dst_path).parquet(
        f"{dst_path}/epoch=*"
    ).drop("epoch")

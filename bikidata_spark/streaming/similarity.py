"""Streaming IVF ingest: continuous embedding appends to a persisted
IVF store.

Reference counterpart: none (the reference's semantic index is built
offline, semantic.py:15-38); this is the LLM-pipeline extension's
streaming twin of ``append_ivf_store``. Spark-first: Structured
Streaming ``foreachBatch`` over the same committed-centroid broadcast
assignment fold, with the mutation-log idempotence idiom — every
micro-batch lands in its own ``batch=<id>`` directory with overwrite
mode, so a batch replayed after a partial failure REPLACES its own
partial output instead of appending duplicates. Idempotence is real,
not just checkpoint-deep (same guarantee as streaming.mutations).

Layout: streamed rows live in a sibling partition tree
``vectors_stream/batch=<id>/cell=<k>/``. ``cell`` stays a partition
column there, so ``ivf_store_topk``'s static ``cell IN (...)``
predicate partition-prunes streamed files exactly like base files;
``read_ivf_store`` unions the two trees and ``compact_ivf_store``
folds the stream tree into the base and clears it (repaying the
small-files accumulation, like the other two store layouts).
Centroids are the store's committed ones — re-clustering per
micro-batch would be absurd at corpus scale; drift is repaid by the
next full ``write_ivf_store`` rebuild.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import conform
from ..operators.similarity import (
    IVF_VECTORS_SCHEMA,
    _as_double,
    _assign_cells,
    read_centroids,
)


def start_ivf_append(
    stream_df: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trigger_available_now: bool = True,
):
    """Start a stream appending embedding micro-batches to the IVF
    store at ``store_dir`` (which must already exist — the committed
    centroid table defines the cells). Returns the StreamingQuery."""
    spark = stream_df.sparkSession
    cents = read_centroids(spark, store_dir)
    # the committed centroid table is tiny and immutable for the
    # stream's lifetime: size the assignment strategy once up front
    n_cells = cents.count()

    def process(batch: DataFrame, batch_id: int) -> None:
        v = _as_double(
            batch.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")), "nv"
        )
        assign = _assign_cells(v, cents, n_cells=n_cells)
        (
            conform(assign, IVF_VECTORS_SCHEMA)
            .repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{store_dir}/vectors_stream/batch={batch_id}")
        )

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

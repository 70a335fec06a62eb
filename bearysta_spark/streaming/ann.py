"""The stream-grown store of the PQ index: streaming ingest + live
serving against a self-growing index — the similarity-search
counterpart of the dedup family's persisted/incremental/streaming
triple.

functions.similarity builds the ANN index as one composition — a
coarse quantizer (a list of subspace codebooks: `[centroids]` for flat
IVF, `[cb1, cb2]` for an inverted multi-index), an encoder (raw /
residual / opq) and a store. This module is the third store. A 100 TB
training-data pipeline embeds documents CONTINUOUSLY and needs the
index to absorb each micro-batch without a full rebuild, so (id,
vector) rows stream into the SAME codes-only, cell-partitioned rows the
batch writer produces (similarity.pq_index_frame) — per-batch cost is
one Arrow quantization pass over the batch plus a batch-sized shuffle,
never a corpus re-read — and top-k is served from a marker-aware
consistent view through the same ranker as the batch index
(similarity.pq_topk_from_index).

Exactly-once by the house construction: the index sink is a batch_id
dynamic-partition overwrite (a replayed micro-batch overwrites its own
partition, never duplicates codes), the layout file (similarity.
pq_layout) pins the quantizer geometry and encoding (a stream
restarted with different codebooks fails loudly BEFORE writing a
mis-quantized row), and compaction — manual or compact_every=N from
inside the loop — folds old batch partitions so file-listing cost
stays bounded over the stream's lifetime.

100 TB shape: index rows are (id, m codes, cell) — ~m bytes of payload
per vector, 32×+ smaller than raw floats — hive-partitioned by
(batch_id, cell), so the serving probe's broadcast cell list prunes
partitions before any byte is read, exactly like the batch path. With
an IMI quantizer the state that must broadcast stays K1+K2 half-width
centroids plus the m·ksub PQ codebooks.

Ingest contract: ids are unique across the stream's lifetime (the
incremental-LSH contract); the searcher scores whatever rows the view
exposes, so a re-sent id would be scored twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bearysta_spark.functions.similarity import (
    _cell_col,
    check_pq_layout,
    pq_index_frame,
    pq_layout,
    pq_topk_from_index,
    pq_topk_refined,
)
from bearysta_spark.streaming.index import (
    compact_index,
    ensure_layout,
    read_index_view,
)


def ingest_pq_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_root: str,
    quantizer: list[list[list[float]]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> None:
    """Quantize ONE micro-batch into the PQ index rows and commit it
    under its batch_id partition. This is the whole per-batch ingest —
    shared verbatim by the streaming loop and offline backfill (the
    registered query), so the two paths cannot drift.

    The rows come from the SAME pq_index_frame the batch writer
    (write_pq_index) uses, so a stream-grown index is file-compatible
    with a batch-built one: identical (id, codes, cell) rows, identical
    hive partitioning on the cell (plus batch_id for exactly-once),
    searchable by the identical pq_topk_from_index plan. Raw vectors
    are touched exactly once, at ingest."""
    ensure_layout(
        batch_df.sparkSession, index_root,
        pq_layout(quantizer, codebooks, encoding, perm),
    )
    idx = pq_index_frame(
        batch_df, quantizer, codebooks, id_col, vec_col, encoding, perm
    )
    (
        idx.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", _cell_col(quantizer))
        .parquet(index_root)
    )


def start_streaming_pq_ingest(
    stream_vecs: DataFrame,
    quantizer: list[list[list[float]]],
    codebooks: list[list[list[float]]],
    index_root: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = None,
    encoding: str = "raw",
    perm: list[int] | None = None,
):
    """Stream (id, vector) rows into a self-growing persisted PQ index.
    Each micro-batch pays one Arrow quantization pass (one dgemm per
    coarse subspace for the cell + m sub-dgemms for the codes) and one
    batch-sized codes shuffle; the index on disk grows by ~m bytes per
    vector. compact_every=N folds batch partitions from inside the
    loop every N batches (replay-safe: folding at upto=current only
    touches partitions whose batches have committed)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ingest_pq_batch(
            batch_df, batch_id, index_root, quantizer, codebooks,
            id_col, vec_col, encoding, perm,
        )
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_index(
                batch_df.sparkSession, index_root, batch_id,
                partition_cols=("batch_id", _cell_col(quantizer)),
            )

    return (
        stream_vecs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def pq_index_view(
    spark: SparkSession,
    index_root: str,
    quantizer: list[list[list[float]]],
    id_col: str = "vec_id",
    before_batch: int | None = None,
) -> DataFrame | None:
    """The marker-aware consistent view of a stream-grown PQ index
    (streaming/index.py:read_index_view semantics: committed compaction
    tiers honored, half-written tiers hidden, optional batch_id upper
    bound so a probe never sees its own in-flight write). None while
    the index holds no data."""
    return read_index_view(
        spark, index_root, before_batch=before_batch,
        schema=(
            f"{id_col} long, codes array<int>, "
            f"{_cell_col(quantizer)} int, batch_id int"
        ),
    )


def _live_index(
    spark: SparkSession,
    index_root: str,
    quantizer: list[list[list[float]]],
    codebooks: list[list[list[float]]],
    id_col: str,
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> DataFrame:
    """The serving-side view both live searchers read: the marker-aware
    consistent view behind the shared layout guard (check_pq_layout).
    Raises if the index is empty or was grown under a different
    geometry (a read-side check only — serving never creates layout
    state)."""
    check_pq_layout(spark, index_root, quantizer, codebooks, encoding, perm)
    idx = pq_index_view(spark, index_root, quantizer, id_col=id_col)
    if idx is None:
        raise ValueError(
            f"streaming PQ index at {index_root} holds no committed "
            "rows yet — nothing to search"
        )
    return idx.drop("batch_id")


def pq_topk_live(
    queries: DataFrame,
    index_root: str,
    quantizer: list[list[list[float]]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_agg=None,
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> DataFrame:
    """Top-k against everything the stream has committed so far: the
    identical search plan as the batch persisted path
    (pq_topk_from_index — broadcast probe list dynamically prunes the
    cell partitions, broadcast ADC LUT ranks codes-only rows) over the
    checked marker-aware view (_live_index)."""
    idx = _live_index(
        queries.sparkSession, index_root, quantizer, codebooks, id_col,
        encoding, perm,
    )
    return pq_topk_from_index(
        idx, queries, quantizer, codebooks, k=k, probes=probes,
        id_col=id_col, vec_col=vec_col, adc_agg=adc_agg,
        encoding=encoding, perm=perm,
    )


def pq_topk_refined_live(
    queries: DataFrame,
    index_root: str,
    vectors: DataFrame,
    quantizer: list[list[list[float]]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    probes: int = 1,
    refine: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_agg=None,
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> DataFrame:
    """Two-stage LIVE serving: the exact-refinement search
    (functions.similarity.pq_topk_refined — lossy ADC shortlist from
    codes-only rows, exact-cosine rerank over a semi-join-pruned point
    read of ~refine·|Q| raw vectors) composed over the SAME checked
    marker-aware view pq_topk_live serves from. `vectors` is the
    raw-vector store the pipeline persisted at ingest time (the index
    holds m-byte codes only — refinement is the one read that touches
    full-width floats, and only for shortlist members). Batch-equality
    across replay and compaction is chaos-tested in
    tests/test_streaming_ann.py; callers must hold a cache scope (the
    shortlist is scope-cached)."""
    idx = _live_index(
        queries.sparkSession, index_root, quantizer, codebooks, id_col,
        encoding, perm,
    )
    return pq_topk_refined(
        idx, vectors, queries, quantizer, codebooks, k=k, probes=probes,
        refine=refine, id_col=id_col, vec_col=vec_col, adc_agg=adc_agg,
        encoding=encoding, perm=perm,
    )

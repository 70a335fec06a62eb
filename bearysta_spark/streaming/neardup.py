"""Streaming near-dup detection against a persisted corpus LSH index —
the streaming arm of the daily-ingest dedup shape
(functions.dedup.write_lsh_index + incremental_lsh_pairs).

A document stream (e.g. files landing in an object-store prefix) is
checked micro-batch by micro-batch against the corpus band-bucket
index: each batch computes ONLY its own MinHash band buckets and
equi-joins the index files, so per-batch cost tracks the batch, never
the corpus — identical math to the batch incremental path (parity
tested), now with streaming delivery.

Exactly-once: foreachBatch is at-least-once by contract, so the sink
write is made idempotent with the standard batch-id dynamic-partition
overwrite — a replayed batch overwrites its own partition rather than
appending duplicates (chaos-tested with a truncated checkpoint, same
harness as the stateful operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bearysta_spark.functions.dedup import incremental_lsh_pairs
from bearysta_spark.streaming.index import read_index_view


def start_streaming_near_dup(
    stream_docs: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 12,
    bands: int = 3,
    oracle_safe: bool = True,
):
    """Start the stream: writes (corpus_id, new_id, batch_id) parquet
    rows under out_path, hive-partitioned by batch_id. Returns the
    StreamingQuery. The index is loaded ONCE per micro-batch from the
    files (so a rebuilt/compacted index is picked up on the next batch
    without restarting the query)."""
    spark = stream_docs.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        idx = spark.read.parquet(index_path)
        pairs = incremental_lsh_pairs(
            None,
            batch_df,
            text_col=text_col,
            id_col=id_col,
            k=k,
            num_hashes=num_hashes,
            bands=bands,
            oracle_safe=oracle_safe,
            corpus_buckets=idx,
        )
        (
            pairs.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    return (
        stream_docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def start_streaming_image_neardup(
    stream_payloads: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    max_hamming: int = 6,
):
    """Streaming image near-dup detection against a persisted phash
    index (functions.multimodal.write_phash_index) — the image twin of
    start_streaming_near_dup: each micro-batch decodes + dHashes ONLY
    its own payloads (dhash_rows) and probes the index FILES
    (incremental_phash_pairs), so per-batch cost tracks the batch and
    corpus images are never re-decoded. Writes (corpus_id, new_id,
    hamming, batch_id) parquet partitioned by batch_id with the same
    idempotent dynamic-partition overwrite as the text stream (a
    replayed batch overwrites its own partition). Returns the
    StreamingQuery."""
    from bearysta_spark.cachescope import release_scoped_caches
    from bearysta_spark.functions.multimodal import (
        dhash_rows,
        incremental_phash_pairs,
    )

    spark = stream_payloads.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        idx = spark.read.parquet(index_path)
        pairs = incremental_phash_pairs(
            idx,
            dhash_rows(batch_df, payload_col=payload_col, id_col=id_col),
            max_hamming=max_hamming,
            id_col=id_col,
        )
        (
            pairs.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )
        release_scoped_caches()  # foreachBatch is the terminal action

    return (
        stream_payloads.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def start_streaming_audio_neardup(
    stream_payloads: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    method: str = "landmark",
    min_shared: int = 5,
    max_hamming: int = 6,
):
    """Streaming audio near-dup detection against a persisted corpus
    index — the audio arm of the multimodal streaming family (r06
    VERDICT ask #8). Two methods, matching the batch pipelines:

    - 'landmark' (default): insertion-robust peak-triple keys
      (audio_peak_triple_keys) probed against a write_key_index corpus
      via incremental_key_pairs; output rows carry shared_keys.
    - 'envelope': the cheap loudness-envelope fingerprint
      (audio_fp_bytes), byte-compatible with the image phash banding,
      probed against a write_phash_index corpus via
      incremental_phash_pairs; output rows carry hamming.

    Per-batch cost tracks the batch (only batch payloads are decoded;
    the index is read from files each micro-batch so compactions are
    picked up without restart), and the sink is idempotent under
    foreachBatch replay via batch-id dynamic-partition overwrite — the
    same chaos-tested contract as the text and image streams."""
    from bearysta_spark.cachescope import release_scoped_caches
    from bearysta_spark.functions.multimodal import (
        audio_fp_rows,
        audio_landmark_rows,
        incremental_key_pairs,
        incremental_phash_pairs,
    )

    if method not in ("landmark", "envelope"):
        raise ValueError(f"method={method!r}: expected landmark|envelope")
    spark = stream_payloads.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        idx = spark.read.parquet(index_path)
        if method == "landmark":
            pairs = incremental_key_pairs(
                idx,
                audio_landmark_rows(
                    batch_df, payload_col=payload_col, id_col=id_col
                ),
                min_shared=min_shared,
                id_col=id_col,
            )
        else:
            pairs = incremental_phash_pairs(
                idx,
                audio_fp_rows(batch_df, payload_col=payload_col, id_col=id_col),
                max_hamming=max_hamming,
                id_col=id_col,
            )
        (
            pairs.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )
        release_scoped_caches()  # foreachBatch is the terminal action

    return (
        stream_payloads.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def start_streaming_self_neardup(
    stream_payloads: DataFrame,
    index_root: str,
    out_path: str,
    checkpoint: str,
    extractor,
    min_shared: int = 5,
    id_col: str = "doc_id",
    buckets: int = 32,
    compact_every: int | None = None,
    elect_quality: str | None = None,
):
    """Streaming dedup with a SELF-GROWING index: each micro-batch is
    matched against everything that arrived before it AND within
    itself, then its own keys are appended to the index — the full
    production ingest loop, where yesterday's stream is today's
    corpus (the static-index streams only ever match against a fixed
    snapshot).

    `extractor` maps a payload batch to (id, key) rows — e.g.
    ``lambda df: audio_landmark_rows(df)`` or
    ``lambda df: video_frame_keys(video_frame_hashes(df))`` — so one
    loop serves every exact-key signal.

    Exactly-once under foreachBatch replay, by construction:
    - the index is hive-partitioned by batch_id; a replayed batch
      overwrites ITS OWN partition (dynamic overwrite), never
      duplicating keys;
    - the probe filters the index to batch_id < current, so a replay
      that already appended its keys cannot match the batch against
      itself (within-batch pairs come from the explicit self-join,
      once);
    - the pair sink uses the same batch-id dynamic-partition
      overwrite as every stream here.
    Each emitted pair appears exactly once, at the batch where its
    LATER member arrived. Seed a pre-existing corpus by writing its
    keys under batch_id=-1 (write_corpus partition layout), or start
    empty. compact_every=N folds the key index every N batches from
    inside the loop (upto_batch = the current batch — earlier batches
    are checkpoint-committed, and a replay rewrites partitions >= it),
    so a long-lived stream bounds its own file-listing cost.

    `elect_quality` (r12 VERDICT ask #6) switches compaction from pure
    re-layout to CANONICAL RE-ELECTION: the extractor's (id, key) rows
    must then also carry that quality column, and each fold keeps ONE
    row per key — the highest-quality holder, ties to the lowest id
    (queries.dedup_canonical_by_quality's keep-best rule). Without it
    the index pins every key's FIRST-seen holder forever, and at
    100 TB the first crawl of a page is often the worst copy; with it
    the converged canon equals the batch keep-best over everything
    streamed (argmax is an associative-commutative fold, so the
    compaction cadence doesn't change the result — chaos-tested in
    tests/test_streaming_index.py). Probes after an elected fold match
    new arrivals against cluster CANONICALS plus not-yet-folded recent
    batches — the bounded-index production shape (the index stops
    growing with corpus size and tracks the distinct-key count)."""
    from bearysta_spark.cachescope import release_scoped_caches
    from bearysta_spark.functions.multimodal import incremental_key_pairs
    from bearysta_spark.streaming.index import compact_index, ensure_layout

    spark = stream_payloads.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # kb derives from hash-mod-buckets: the probe's (kb, key)
        # equi-join against the index silently misses with a different
        # bucket count, so the value is persisted and validated
        ensure_layout(spark, index_root, {"buckets": buckets})
        qcols = [elect_quality] if elect_quality else []
        keys = (
            extractor(batch_df)
            .select(
                F.col(id_col),
                "key",
                *qcols,
                F.pmod(F.xxhash64(F.col("key")), F.lit(buckets))
                .cast("int")
                .alias("kb"),
            )
            .distinct()
        )
        # marker-aware view (compaction tiers + batch_id < current);
        # raises on anything but a genuinely missing/empty index — a
        # transient FS error or corrupt partition must fail the batch
        # loudly, since each pair is only ever emitted at its LATER
        # member's batch and a silently skipped probe loses those
        # pairs forever (r07 ADVICE)
        idx = read_index_view(spark, index_root, before_batch=batch_id)
        within = (
            keys.select(F.col(id_col).alias("id_a"), "key")
            .join(keys.select(F.col(id_col).alias("id_b"), "key"), "key")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").cast("long").alias("shared_keys"))
            .filter(F.col("shared_keys") >= min_shared)
            .select(
                F.col("id_a").alias("corpus_id"),
                F.col("id_b").alias("new_id"),
                "shared_keys",
            )
        )
        pairs = within
        if idx is not None:
            cross = incremental_key_pairs(
                idx, keys, min_shared=min_shared, id_col=id_col,
                buckets=buckets,
            )
            pairs = cross.unionAll(within)
        (
            pairs.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )
        (
            keys.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "kb")
            .parquet(index_root)
        )
        release_scoped_caches()  # foreachBatch is the terminal action
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_index(
                spark, index_root, batch_id,
                partition_cols=("batch_id", "kb"),
                elect=(
                    {
                        "keys": ["kb", "key"],
                        "quality": elect_quality,
                        "id": id_col,
                    }
                    if elect_quality
                    else None
                ),
            )

    return (
        stream_payloads.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def start_streaming_video_neardup(
    stream_payloads: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    min_shared: int = 2,
    every_n: int = 1,
):
    """Streaming video near-dup detection against a persisted
    frame-hash key index (write_key_index over video_frame_keys) —
    the video arm: each micro-batch decodes + frame-dHashes ONLY its
    own Y4M payloads (video_frame_hashes), renders the per-frame key
    strings, and probes the index files via incremental_key_pairs
    (content-at-any-offset matching, distinct shared frame contents).
    Writes (corpus_id, new_id, shared_keys, batch_id) parquet with the
    idempotent dynamic-partition overwrite. Returns the
    StreamingQuery."""
    from bearysta_spark.cachescope import release_scoped_caches
    from bearysta_spark.functions.multimodal import (
        incremental_key_pairs,
        video_frame_hashes,
        video_frame_keys,
    )

    spark = stream_payloads.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        idx = spark.read.parquet(index_path)
        fh = video_frame_hashes(
            batch_df, payload_col=payload_col, id_col=id_col, every_n=every_n
        )
        pairs = incremental_key_pairs(
            idx, video_frame_keys(fh, id_col=id_col),
            min_shared=min_shared, id_col=id_col,
        )
        (
            pairs.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )
        release_scoped_caches()  # foreachBatch is the terminal action

    return (
        stream_payloads.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def start_streaming_semantic_dedup(
    stream_vecs: DataFrame,
    centroids: list[list[float]],
    index_root: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = None,
):
    """Streaming SemDeDup — the FIFTH near-dup signal (text LSH, image,
    audio, video already stream; this is the embedding arm, r08 VERDICT
    ask #4): each micro-batch is cell-assigned with the SAME coarse
    quantizer as functions.similarity.semantic_dedup, compared against
    everything that arrived before it (per-cell exact cosine) and
    within itself, then appended to a SELF-GROWING cell-keyed embedding
    index. Emits (id, cell, keep) per batch under out_path: keep=false
    iff a smaller-id vector in the same cell anywhere in the stream so
    far has cosine >= threshold — under the ascending-id ingest
    contract this equals batch semantic_dedup over the union of all
    batches (chaos-tested batch-equivalence, the same bar as the other
    four arms). The blocker does NOT need keep=true itself (SemDeDup
    drops the larger id of ANY qualifying pair), so the index carries
    every arriving vector, keepers and dropped alike.

    Exactly-once by the house construction: out and index sinks are
    batch_id dynamic-partition overwrites; the probe reads the
    marker-aware index view filtered to batch_id < current, so a
    replayed batch never dedups against its own crashed write. The
    centroid set is correctness-load-bearing (cells are argmax against
    it): its size and digest are persisted via ensure_layout and a
    stream restarted with different centroids fails loudly.

    100 TB shape: cell assignment is one Arrow dgemm per batch; the
    probe semi-joins the index to the BATCH's cells only (partition
    pruning on the cell key), and the kernel's dgemm is RECTANGULAR —
    (index+batch) × batch-new columns only — so per-batch exact-verify
    work is Σ_cells(n_idx_cell × n_batch_cell), the SemDeDup per-cell
    surface, never corpus × batch and never n_cell² per batch
    (r09 VERDICT finding #1: the old square kernel recomputed old×old
    pairs every batch, cubic total work over a cell's lifetime). Task
    memory is cell population × (d + batch-cell width) doubles, the
    FAISS-IVF-list sizing model; cells that outgrow it need a larger
    centroid set (rebuild = new layout). Measured: scripts/
    semantic_ladder.py holds batch size fixed while one cell's index
    grows 20× and reports per-batch wall time ~flat (linear-in-index
    dgemm FLOPs stay under the per-batch fixed cost at ladder scale;
    the square form grew visibly).
    Long-lived streams bound file listing with compact_index
    (partition_cols=('batch_id', 'cell')) — or pass compact_every=N to
    fold from inside the loop every N batches, no second process."""
    import hashlib
    import json

    import numpy as np
    import pandas as pd

    from bearysta_spark.functions.similarity import assign_cells_arrow
    from bearysta_spark.streaming.index import ensure_layout

    spark = stream_vecs.sparkSession
    layout = {
        "n_cells": len(centroids),
        "centroids_md5": hashlib.md5(
            json.dumps(centroids).encode()
        ).hexdigest(),
    }

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ensure_layout(spark, index_root, layout)
        cell = assign_cells_arrow([centroids], 1)(F.col(vec_col))[0]
        b = (
            batch_df.select(F.col(id_col), F.col(vec_col))
            .withColumn("cell", cell.cast("int"))
            .persist()
        )
        idx_schema = b.withColumn("batch_id", F.lit(0)).schema
        idx = read_index_view(
            spark, index_root, before_batch=batch_id, schema=idx_schema
        )
        new = b.withColumn("__new", F.lit(True))
        if idx is None:
            allr = new
        else:
            old = (
                idx.select(id_col, vec_col, "cell")
                .join(
                    F.broadcast(b.select("cell").distinct()),
                    "cell",
                    "left_semi",
                )
                .withColumn("__new", F.lit(False))
            )
            allr = new.unionByName(old)

        def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
            # RECTANGULAR, not square (r09 VERDICT finding #1): only
            # pairs with a NEW right-hand member can change this batch's
            # output, so the dgemm is (index+batch) × batch — per-batch
            # FLOPs and task memory are cell_population × batch_width,
            # never cell_population². The batch kernel
            # (similarity.semantic_dedup) keeps its square form: it pays
            # ΣN_c² exactly once over a static corpus, whereas a stream
            # re-entering a cell every batch would pay the square — with
            # old×old pairs recomputed for no output — for the stream's
            # whole lifetime.
            ids = pdf[id_col].to_numpy()
            newm = pdf["__new"].to_numpy()
            order = np.argsort(ids)  # index order == id order below
            ids, newm = ids[order], newm[order]
            m = np.array(list(pdf[vec_col]), dtype=np.float64)[order]
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0.0] = 1.0
            mn = m / norms[:, None]
            new_pos = np.flatnonzero(newm)
            hit = (mn @ mn[new_pos].T) >= threshold
            # new column j is dropped iff some row STRICTLY ABOVE its
            # own position hits: rows are id-sorted, so row i < new_pos[j]
            # is exactly ids[i] < ids_new[j] (the self-pair row sits AT
            # new_pos[j] and never triggers the strict inequality)
            dropped = hit.any(axis=0) & (hit.argmax(axis=0) < new_pos)
            return pd.DataFrame(
                {
                    id_col: ids[new_pos],
                    "cell": int(key[0]),
                    "keep": ~dropped,
                }
            )

        flags = allr.groupBy("cell").applyInPandas(
            kernel, f"{id_col} long, cell int, keep boolean"
        )
        # keep-flag sink executes the index-reading plan FIRST; the
        # index append below must stay the LAST write (the sequencing
        # invariant: no index-reading plan may run after a write
        # touches that index root within the batch)
        (
            flags.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )
        (
            b.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "cell")
            .parquet(index_root)
        )
        b.unpersist()
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            from bearysta_spark.streaming.index import compact_index

            compact_index(
                spark, index_root, batch_id,
                partition_cols=("batch_id", "cell"),
            )

    return (
        stream_vecs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )

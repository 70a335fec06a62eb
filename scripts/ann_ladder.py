#!/usr/bin/env python
"""Per-batch cost ladder for the STREAMING ANN arm (streaming/ann.py):
feed N fixed-size micro-batches of synthetic embeddings through
start_streaming_pq_ingest, timing every batch, and time a fixed
5-query pq_topk_live serve after each — the ingest series must
track the BATCH (the loop never reads the index), and the serve series
is the documented linear-in-probed-cells contract (codes-only rows,
probes/cells of the corpus), so its growth should be ~linear with a
small slope, never super-linear.

Usage: python scripts/ann_ladder.py [--batches 16] [--rows 500]
       [--dim 64] [--compact-every N] [--serve-every 1]
Prints one JSON line; runs on local[$SPARK_GRAFT_CPUS or 8].
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=16)
    ap.add_argument("--rows", type=int, default=500)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--compact-every", type=int, default=None)
    ap.add_argument("--serve-every", type=int, default=1)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from bearysta_spark import get_spark
    from bearysta_spark.functions.similarity import make_pq_codebooks
    from bearysta_spark.streaming.ann import (
        pq_index_view,
        pq_topk_live,
        start_streaming_pq_ingest,
    )

    spark = get_spark(
        "ann_ladder", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="ann_ladder_")
    land, idx, ckpt = (
        os.path.join(work, d) for d in ("land", "idx", "ckpt")
    )
    # the registered geometry: 8x8 IMI product cells, m=8 PQ codes
    imi = make_pq_codebooks(dim=args.dim, m=2, ksub=8, seed=23)
    cbs = make_pq_codebooks(dim=args.dim, m=8, ksub=8, seed=11)

    def fresh_batch(b: int):
        # deterministic pseudo-random vectors (hash-based, no RNG):
        # spread across cells, ids unique across the stream
        vec = F.expr(
            f"transform(sequence(1, {args.dim}), i -> "
            "CAST(pmod(xxhash64(id, i), 1000) / 1000.0 - 0.5 AS FLOAT))"
        )
        return (
            spark.range(b * args.rows, (b + 1) * args.rows)
            .select(F.col("id").alias("vec_id"), vec.alias("embedding"))
        )

    queries = fresh_batch(0).limit(5).persist()
    queries.count()

    ingest_times, serve_times, serve_at, serve_rows = [], [], [], []
    for b in range(args.batches):
        fresh_batch(b).coalesce(2).write.mode("append").parquet(land)
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).parquet(land)
        q = start_streaming_pq_ingest(
            stream, imi, cbs, idx, ckpt,
            compact_every=args.compact_every,
        )
        t0 = time.perf_counter()
        q.processAllAvailable()
        q.stop()
        ingest_times.append(round(time.perf_counter() - t0, 3))
        if b % args.serve_every == 0 or b == args.batches - 1:
            t0 = time.perf_counter()
            n = pq_topk_live(queries, idx, imi, cbs, k=5, probes=4).count()
            serve_times.append(round(time.perf_counter() - t0, 3))
            serve_at.append(b)
            serve_rows.append(n)
            # 5 queries x k=5 is the CEILING; a sparse early index (small
            # --rows / unlucky hash spread) can legitimately serve fewer
            # within the probed cells — record it, don't abort (r10 ADVICE)
            assert n <= 25, n

    # vacuity guard: the index really grew N×
    view = pq_index_view(spark, idx, imi)
    n_indexed = view.count() if view is not None else 0
    assert n_indexed == args.batches * args.rows, n_indexed

    def stats(times):
        third = max(1, len(times) // 3)
        head = sum(times[:third]) / third
        tail = sum(times[-third:]) / third
        n = len(times)
        xbar, ybar = (n - 1) / 2, sum(times) / n
        denom = sum((i - xbar) ** 2 for i in range(n))
        slope = (
            sum((i - xbar) * (t - ybar) for i, t in enumerate(times))
            / denom
            if denom
            else 0.0  # single-sample series: slope undefined, report 0
        )
        return {
            "times": times,
            "head_mean": round(head, 3),
            "tail_mean": round(tail, 3),
            "tail_over_head": round(tail / head, 3),
            "slope_sec_per_batch": round(slope, 4),
        }

    print(
        json.dumps(
            {
                "metric": "streaming_ann_per_batch_sec",
                "batches": args.batches,
                "rows_per_batch": args.rows,
                "dim": args.dim,
                "index_growth": args.batches,
                "n_indexed": n_indexed,
                "compact_every": args.compact_every,
                "ingest": stats(ingest_times),
                "serve": {
                    **stats(serve_times),
                    "at_batch": serve_at,
                    "rows_served": serve_rows,
                },
            }
        )
    )
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

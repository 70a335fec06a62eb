"""Streaming ANN (self-growing IMI-PQ index): a stream-grown index must
serve the IDENTICAL top-k as the batch persisted path over the same
vectors — chaos-tested across truncated-checkpoint replay and a
compaction boundary — and refuse to grow or serve under a different
quantizer geometry."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.test_streaming_multimodal import _truncate_last_commit

SF = "/root/testdata/sf0.001"


def _geometry():
    from bearysta_spark.queries import _IMI_CODEBOOKS, _PQ_CODEBOOKS

    return _IMI_CODEBOOKS, _PQ_CODEBOOKS


def _feed(spark, land, lo, hi):
    (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        .select("vec_id", "embedding")
        .coalesce(1)
        .write.mode("append")
        .parquet(land)
    )


def _run_once(spark, land, idx, ckpt, imi, cbs, compact_every=None):
    from bearysta_spark.streaming.ann import start_streaming_pq_ingest

    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(land)
    q = start_streaming_pq_ingest(
        stream, imi, cbs, idx, ckpt, compact_every=compact_every
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _serve(spark, idx, imi, cbs):
    from bearysta_spark.queries import dsum
    from bearysta_spark.streaming.ann import pq_topk_live

    q = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .filter(F.col("vec_id") < 5)
        .select("vec_id", "embedding")
    )
    out = pq_topk_live(
        q, idx, imi, cbs, k=5, probes=4,
        adc_agg=lambda c: dsum(c, 4),
    )
    return {(r.qid, r.rank): (r.nid, float(r.adc)) for r in out.collect()}


def _batch_reference(spark, imi, cbs, hi, tmp):
    from bearysta_spark.functions.similarity import (
        pq_topk_from_index,
        write_pq_index,
    )
    from bearysta_spark.queries import dsum

    e = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .filter(F.col("vec_id") < hi)
        .select("vec_id", "embedding")
    )
    q = e.filter(F.col("vec_id") < 5)
    write_pq_index(e, imi, cbs, tmp)
    out = pq_topk_from_index(
        spark.read.parquet(tmp), q, imi, cbs, k=5, probes=4,
        adc_agg=lambda c: dsum(c, 4),
    )
    return {(r.qid, r.rank): (r.nid, float(r.adc)) for r in out.collect()}


def test_streaming_imipq_matches_batch_with_replay_and_compaction(
    spark, tmp_path
):
    from bearysta_spark.streaming.index import compact_index, read_marker

    land, idx, ckpt = (str(tmp_path / d) for d in ("land", "idx", "ckpt"))
    imi, cbs = _geometry()

    _feed(spark, land, 0, 150)
    _run_once(spark, land, idx, ckpt, imi, cbs)
    _feed(spark, land, 150, 300)
    _run_once(spark, land, idx, ckpt, imi, cbs)
    _truncate_last_commit(ckpt)  # die between execute and commit
    # replay batch 1 (partition overwrite, no duplicate codes), fold
    # batches 0-1, then grow past the compacted tier
    _run_once(spark, land, idx, ckpt, imi, cbs)
    compact_index(spark, idx, 2, partition_cols=("batch_id", "imi_cell"))
    assert read_marker(idx) == {"tier": -2, "upto": 2}
    _feed(spark, land, 300, 500)
    _run_once(spark, land, idx, ckpt, imi, cbs)

    from bearysta_spark.streaming.ann import pq_index_view

    view = pq_index_view(spark, idx, imi)
    assert view.count() == 500  # replay overwrote, never duplicated
    got = _serve(spark, idx, imi, cbs)
    want = _batch_reference(
        spark, imi, cbs, 500, str(tmp_path / "batchidx")
    )
    assert got == want
    assert len({q for q, _ in got}) == 5  # every query served k rows


def _serve_refined(spark, idx, imi, cbs):
    from bearysta_spark.cachescope import cache_scope
    from bearysta_spark.queries import dsum
    from bearysta_spark.streaming.ann import pq_topk_refined_live

    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = e.filter(F.col("vec_id") < 5)
    with cache_scope():
        out = pq_topk_refined_live(
            q, idx, e, imi, cbs, k=5, probes=4, refine=15,
            adc_agg=lambda c: dsum(c, 4),
        )
        return {(r.qid, r.rank): (r.nid, float(r.sim)) for r in out.collect()}


def test_streaming_imipq_refined_matches_batch_with_replay_and_compaction(
    spark, tmp_path
):
    """The two-stage refined search over a stream-grown index — across
    a truncated-checkpoint replay and a compaction boundary — must
    equal the batch refined search over a batch-built index: the
    shortlist comes from identical codes (bit-identical index rows),
    and the exact rerank reads the same raw-vector store."""
    from bearysta_spark.cachescope import cache_scope
    from bearysta_spark.functions.similarity import (
        pq_topk_refined,
        write_pq_index,
    )
    from bearysta_spark.queries import dsum
    from bearysta_spark.streaming.index import compact_index

    land, idx, ckpt = (str(tmp_path / d) for d in ("land", "idx", "ckpt"))
    imi, cbs = _geometry()
    _feed(spark, land, 0, 150)
    _run_once(spark, land, idx, ckpt, imi, cbs)
    _feed(spark, land, 150, 300)
    _run_once(spark, land, idx, ckpt, imi, cbs)
    _truncate_last_commit(ckpt)  # die between execute and commit
    _run_once(spark, land, idx, ckpt, imi, cbs)  # replay batch 1
    compact_index(spark, idx, 2, partition_cols=("batch_id", "imi_cell"))
    _feed(spark, land, 300, 500)
    _run_once(spark, land, idx, ckpt, imi, cbs)

    got = _serve_refined(spark, idx, imi, cbs)
    e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = e.filter(F.col("vec_id") < 5)
    bpath = str(tmp_path / "batchidx")
    write_pq_index(e, imi, cbs, bpath)
    with cache_scope():
        ref = pq_topk_refined(
            spark.read.parquet(bpath), e, q, imi, cbs,
            k=5, probes=4, refine=15, adc_agg=lambda c: dsum(c, 4),
        )
        want = {(r.qid, r.rank): (r.nid, float(r.sim)) for r in ref.collect()}
    assert got == want
    assert len({qq for qq, _ in got}) == 5


def test_streaming_imipq_refined_layout_guard(spark, tmp_path):
    from bearysta_spark.functions.similarity import make_pq_codebooks

    land, idx, ckpt = (str(tmp_path / d) for d in ("land", "idx", "ckpt"))
    imi, cbs = _geometry()
    _feed(spark, land, 0, 100)
    _run_once(spark, land, idx, ckpt, imi, cbs)
    other = make_pq_codebooks(dim=64, m=8, ksub=8, seed=99)
    with pytest.raises(ValueError, match="layout mismatch"):
        _serve_refined(spark, idx, imi, other)


def test_streaming_imipq_layout_guard(spark, tmp_path):
    from bearysta_spark.functions.similarity import make_pq_codebooks

    land, idx, ckpt = (str(tmp_path / d) for d in ("land", "idx", "ckpt"))
    imi, cbs = _geometry()
    _feed(spark, land, 0, 100)
    _run_once(spark, land, idx, ckpt, imi, cbs)
    other = make_pq_codebooks(dim=64, m=8, ksub=8, seed=99)
    # growing under a different geometry must fail loudly
    _feed(spark, land, 100, 200)
    with pytest.raises(Exception, match="layout mismatch"):
        _run_once(spark, land, idx, str(tmp_path / "ckpt2"),
                  imi, other)
    # serving under a different geometry must fail loudly too
    with pytest.raises(ValueError, match="layout mismatch"):
        _serve(spark, idx, imi, other)


def test_streaming_imipq_serve_empty_raises(spark, tmp_path):
    imi, cbs = _geometry()
    with pytest.raises(ValueError, match="no committed rows"):
        _serve(spark, str(tmp_path / "noidx"), imi, cbs)


def test_streaming_imipq_auto_compaction(spark, tmp_path):
    """compact_every=2: the ingest loop folds its own index; serving
    over the auto-folded tier still equals the batch path."""
    from bearysta_spark.streaming.index import read_marker

    land, idx, ckpt = (str(tmp_path / d) for d in ("land", "idx", "ckpt"))
    imi, cbs = _geometry()
    for lo, hi in ((0, 150), (150, 300), (300, 500)):
        _feed(spark, land, lo, hi)
        _run_once(spark, land, idx, ckpt, imi, cbs, compact_every=2)
    m = read_marker(idx)
    assert m is not None and m["upto"] == 2
    got = _serve(spark, idx, imi, cbs)
    want = _batch_reference(
        spark, imi, cbs, 500, str(tmp_path / "batchidx")
    )
    assert got == want


def test_streaming_imipq_residual_matches_batch_and_guards(spark, tmp_path):
    """encoding='residual' on the streaming arm (r11 VERDICT #2): a
    stream-grown residual index serves identical top-k to the batch
    residual writer over the same vectors, and the encoding is part of
    the layout — a raw-configured stream refuses to grow a residual
    index, and a raw serve refuses to read one."""
    from bearysta_spark.functions.similarity import (
        pq_topk_from_index,
        write_pq_index,
    )
    from bearysta_spark.queries import dsum
    from bearysta_spark.streaming.ann import pq_topk_live

    land, idx, ckpt = (str(tmp_path / d) for d in ("land", "idx", "ckpt"))
    imi, cbs = _geometry()

    _feed(spark, land, 0, 200)
    _run_once_enc(spark, land, idx, ckpt, imi, cbs, "residual")
    _feed(spark, land, 200, 500)
    _run_once_enc(spark, land, idx, ckpt, imi, cbs, "residual")

    e = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    q = e.filter(F.col("vec_id") < 5)
    got = {
        (r.qid, r.rank): (r.nid, float(r.adc))
        for r in pq_topk_live(
            q, idx, imi, cbs, k=5, probes=4,
            adc_agg=lambda c: dsum(c, 4), encoding="residual",
        ).collect()
    }
    bpath = str(tmp_path / "batchidx")
    write_pq_index(e, imi, cbs, bpath, encoding="residual")
    want = {
        (r.qid, r.rank): (r.nid, float(r.adc))
        for r in pq_topk_from_index(
            spark.read.parquet(bpath), q, imi, cbs, k=5, probes=4,
            adc_agg=lambda c: dsum(c, 4), encoding="residual",
        ).collect()
    }
    assert got == want and len({qq for qq, _ in got}) == 5

    # raw-configured ingest refuses the residual index's layout
    _feed(spark, land, 500, 510)
    with pytest.raises(Exception, match="layout"):
        _run_once(spark, land, idx, str(tmp_path / "ckpt2"), imi, cbs)
    # raw serve refuses too
    with pytest.raises(ValueError, match="layout mismatch"):
        pq_topk_live(q, idx, imi, cbs, k=5, probes=4)


def _run_once_enc(spark, land, idx, ckpt, imi, cbs, encoding):
    from bearysta_spark.streaming.ann import start_streaming_pq_ingest

    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(land)
    q = start_streaming_pq_ingest(
        stream, imi, cbs, idx, ckpt, encoding=encoding
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_streaming_imipq_opq_matches_batch_and_guards(spark, tmp_path):
    """encoding='opq' on the streaming arm (r12 VERDICT ask #3): a
    stream-grown opq index serves identical top-k to the batch opq
    writer over the same vectors; the trained permutation is part of
    the layout, so an ingest or serve under a different perm (or under
    residual/raw) refuses."""
    from bearysta_spark.functions.similarity import (
        opq_roundrobin_perm,
        pq_topk_from_index,
        residual_frame,
        write_pq_index,
    )
    from bearysta_spark.functions.clustering import pq_codebooks_fit
    from bearysta_spark.queries import dsum
    from bearysta_spark.streaming.ann import (
        pq_topk_live,
        start_streaming_pq_ingest,
    )

    land, idx, ckpt = (str(tmp_path / d) for d in ("land", "idx", "ckpt"))
    imi, cbs = _geometry()

    e = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    res = residual_frame(e, imi)
    perm = opq_roundrobin_perm(res, m=8)
    resp = res.withColumn(
        "residual",
        F.array(*[F.element_at("residual", int(s) + 1) for s in perm]),
    )
    cb_opq = pq_codebooks_fit(
        resp.select("vec_id", "residual"), cbs, max_iters=1,
        vec_col="residual",
    )

    def run(enc_perm):
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).parquet(land)
        q = start_streaming_pq_ingest(
            stream, imi, cb_opq, idx, ckpt,
            encoding="opq", perm=enc_perm,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _feed(spark, land, 0, 200)
    run(perm)
    _feed(spark, land, 200, 500)
    run(perm)

    q = e.filter(F.col("vec_id") < 5)
    got = {
        (r.qid, r.rank): (r.nid, float(r.adc))
        for r in pq_topk_live(
            q, idx, imi, cb_opq, k=5, probes=4,
            adc_agg=lambda c: dsum(c, 4), encoding="opq", perm=perm,
        ).collect()
    }
    bpath = str(tmp_path / "batchidx")
    write_pq_index(
        e, imi, cb_opq, bpath, encoding="opq", perm=perm
    )
    want = {
        (r.qid, r.rank): (r.nid, float(r.adc))
        for r in pq_topk_from_index(
            spark.read.parquet(bpath), q, imi, cb_opq, k=5,
            probes=4, adc_agg=lambda c: dsum(c, 4), encoding="opq",
            perm=perm,
        ).collect()
    }
    assert got == want and len({qq for qq, _ in got}) == 5

    # a different perm refuses at serve; residual serve refuses too
    perm2 = list(perm)
    perm2[0], perm2[1] = perm2[1], perm2[0]
    with pytest.raises(ValueError, match="layout mismatch"):
        pq_topk_live(
            q, idx, imi, cb_opq, k=5, probes=4,
            encoding="opq", perm=perm2,
        )
    with pytest.raises(ValueError, match="layout mismatch"):
        pq_topk_live(
            q, idx, imi, cb_opq, k=5, probes=4, encoding="residual"
        )
    # a different-perm ingest refuses the existing layout
    _feed(spark, land, 500, 510)
    with pytest.raises(Exception, match="layout"):
        run(perm2)

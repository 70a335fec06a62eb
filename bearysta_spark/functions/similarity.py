"""Embedding similarity search: brute-force cosine top-k (the exact
baseline), LSH buckets, and one coarse-quantized ANN index.

Vectors are `array<float>` columns. The exact kernels are JVM
higher-order functions (zip_with + aggregate fold) — no Python per row;
the ANN index kernels are Arrow-batched numpy (one dgemm per batch).

The ANN index is one composition of three parts:

- **coarse quantizer** — a LIST of subspace codebooks. `[centroids]`
  is flat IVF; `[cb1, cb2]` is the inverted multi-index (IMI, Babenko
  & Lempitsky 2012), whose cells are the product of per-half cells.
  IVF is simply the 1-way case: cell scores are the outer sum of the
  per-subspace dot products, flattened row-major (cell = i·K2 + j for
  two ways), ranked by score desc, ties to the lower flat cell id
  (assign_cells_arrow). The number of ways is read from the list.
- **encoder** — `raw` (IP-argmax PQ codes of x), `residual` (L2 PQ
  codes of x − centroid(cell), served with the <q, centroid> offset)
  or `opq` (residual over `perm`-permuted dimensions).
- **store** — the in-memory index frame (pq_index_frame), the
  persisted batch index (write_pq_index / load_pq_index) or the
  stream-grown live index (streaming/ann.py). All three hold the same
  (id, codes, cell) rows, partitioned by `ivf_cell` for a 1-way
  quantizer and `imi_cell` otherwise, guarded by one layout
  (pq_layout), and served by one ranker (pq_topk_from_index).

Scale design: brute-force top-k is a crossJoin — fine for |queries| ≪
|corpus| with the query side broadcast, O(Q·N) but embarrassingly
parallel. LSH and the coarse quantizer turn it into an equi-join on a
bucket/cell id, so each query only scores its probed buckets.
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

logger = logging.getLogger(__name__)

#: Row budget for the EXACT all-pairs cosine verifier. N at the budget
#: is ~5·10⁷ candidate pairs — the point past which an exact quadratic
#: pass stops being the right tool and the caller should either raise
#: (default) or route through the SemDeDup cell-bounded pair surface.
#: Same discipline as dedup.BROADCAST_ROW_LIMIT: the r05 scale ladder
#: measured the ungated kernel at 1.70 per-mult (the only super-linear
#: query in the inventory); every other dangerous shape in this repo is
#: gated on a measured size, so this one is too.
EXACT_PAIRS_ROW_BUDGET = 10_000


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns, accumulated in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return (dot(a, b) / (l2_norm(a) * l2_norm(b))).cast("double")


@pandas_udf(DoubleType())
def _cosine_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    # Arrow-batched numpy kernel: ~5-20× the fold for d ≥ 256.
    import numpy as np

    out = []
    for x, y in zip(a, b):
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        denom = float(np.linalg.norm(x) * np.linalg.norm(y))
        out.append(float(np.dot(x, y)) / denom if denom else float("nan"))
    return pd.Series(out)


def _topk(scored: DataFrame, score: str, k: int) -> DataFrame:
    """(qid, nid, <score>, rank) rows with rank <= k: 1-based, score
    desc, ties broken by nid asc for determinism."""
    w = Window.partitionBy("qid").orderBy(F.desc(score), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", score, "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Output: qid, nid, sim, rank (1-based, ties broken by nid asc for
    determinism). Query side is broadcast; corpus is never shuffled —
    the only wide op is the per-query top-k window, which AQE keeps
    balanced because qid cardinality = |queries|.
    """
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("sim", cosine(F.col("qvec"), F.col("nvec")))
    )
    return _topk(scored, "sim", k)


def hyperplane_signature(
    vec: Column, planes: list[list[float]]
) -> Column:
    """Random-hyperplane LSH signature: bit i = sign(vec · plane_i).
    Planes are literal arrays (driver-generated, deterministic seed) —
    they fold into the plan as constants, no broadcast var needed."""
    bits = []
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(v)) for v in p])
        bits.append(
            F.when(dot(vec, plane) >= 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the hyperplane-sign bucket,
    then exact cosine re-rank within bucket. Equi-join on the signature
    replaces the crossJoin — candidate count drops ~2^len(planes)."""
    sig = lambda df: hyperplane_signature(F.col(vec_col), planes)  # noqa: E731
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        sig(queries).alias("sig"),
    )
    c = corpus.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        sig(corpus).alias("sig"),
    )
    scored = (
        q.join(c, "sig")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("sim", cosine(F.col("qvec"), F.col("nvec")))
    )
    return _topk(scored, "sim", k)


def _cell_scores(vec: Column, centroids: list[list[float]]) -> list[Column]:
    return [
        dot(vec, F.array(*[F.lit(float(x)) for x in c])) for c in centroids
    ]


def nearest_cells(vec: Column, centroids: list[list[float]], n: int = 1) -> Column:
    """Indices of the n highest-dot-product centroids for a vector —
    the IVF coarse quantizer as a pure expression (centroids fold into
    the plan as literals; no broadcast variable, no Python)."""
    scores = _cell_scores(vec, centroids)
    pairs = F.array(
        *[
            F.struct(s.alias("score"), F.lit(i).alias("cell"))
            for i, s in enumerate(scores)
        ]
    )
    top = F.slice(F.reverse(F.array_sort(pairs)), 1, n)
    return F.transform(top, lambda p: p["cell"])


def _coarse_books(quantizer: list[list[list[float]]]) -> list:
    """The coarse quantizer as float64 arrays, one (K_b, d_b) codebook
    per subspace — refusing a bare centroid table, which would
    otherwise be read as d one-centroid subspaces."""
    import numpy as np

    books = [np.asarray(cb, dtype=np.float64) for cb in quantizer]
    if not books or any(b.ndim != 2 for b in books):
        raise ValueError(
            "a coarse quantizer is a list of subspace codebooks: pass "
            "[centroids] for flat IVF, [cb1, cb2] for an inverted "
            "multi-index"
        )
    return books


def _coarse_scores(M, books):
    """Flat-cell scores of a vector batch M (n, d): one dgemm per
    subspace slice, combined by outer sum and flattened row-major, so
    cell (i, j) of a 2-way quantizer is column i·K2 + j and scores
    s1_i + s2_j. A 1-way quantizer is the single `M @ C.T`. The last
    slice takes every remaining dimension."""
    import numpy as np

    cuts = np.cumsum([b.shape[1] for b in books])[:-1]
    flat = None
    for sub, C in zip(np.split(M, cuts, axis=1), books):
        s = sub @ C.T
        flat = (
            s if flat is None
            else (flat[:, :, None] + s[:, None, :]).reshape(len(M), -1)
        )
    return flat


def assign_cells_arrow(
    quantizer: list[list[list[float]]],
    probes: int = 1,
    with_qc: bool = False,
):
    """Arrow-batched coarse cell assignment: the top-`probes` flat cell
    ids per vector under `quantizer` (see _coarse_scores), ties to the
    lower flat cell id (stable argsort). One small dgemm per subspace
    per Arrow batch; the top-1 cell is the storage cell, the top-P the
    query's probe list — for an IMI that is the multi-sequence probe,
    and K1·K2 cells cost only K1+K2 broadcast centroids.

    The literal-expression `nearest_cells` builds K×d literals into the
    plan — past a few centroids the expression tree exceeds the codegen
    method-size limit and falls back to interpreted evaluation (measured
    ~8 s for 500×8×64 at sf0.01 vs ~0.2 s here). Centroids ship in the
    UDF closure (KB-scale).

    with_qc=True returns (cell, qc) structs instead, qc = <v,
    centroid(cell)>: the per-cell offset a residual-encoded ADC adds
    back (FAISS IndexIVFPQ's coarse_dis term). The probing pass
    computes it anyway, so offset and probe order agree by
    construction."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    books = _coarse_books(quantizer)
    elem = (
        StructType(
            [
                StructField("cell", IntegerType()),
                StructField("qc", DoubleType()),
            ]
        )
        if with_qc
        else IntegerType()
    )

    @pandas_udf(ArrayType(elem))
    def cells(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        flat = _coarse_scores(np.array(list(v), dtype=np.float64), books)
        idx = np.argsort(-flat, axis=1, kind="stable")[:, :probes]
        if not with_qc:
            return pd.Series(list(idx.astype("int32")))
        return pd.Series(
            [
                [(int(c), float(row[c])) for c in cs]
                for cs, row in zip(idx, flat)
            ]
        )

    return cells


def _residual_l2_codes(R, C):
    """L2-argmin PQ encode of a residual batch (n, d) against codebooks
    (m, ksub, dsub): FAISS ProductQuantizer::compute_codes semantics —
    the quantized value is an actual RECONSTRUCTION (x̂ = cent + r̂),
    unlike the raw path's direction-only IP-argmax. argmin realised as
    np.argmax of the EXPANDED score r·c − ||c||²/2 (the r² term is a
    per-row constant, so max-score ⇔ min-L2); first max = lowest cell
    id, matching the oracle's ORDER BY score DESC, cell ASC on the
    same expanded score."""
    import numpy as np

    m, _ksub, dsub = C.shape
    out = np.empty((len(R), m), dtype=np.int32)
    for j in range(m):
        sub = R[:, j * dsub : (j + 1) * dsub]
        score = sub @ C[j].T - 0.5 * (C[j] * C[j]).sum(axis=1)[None, :]
        out[:, j] = np.argmax(score, axis=1)  # first max = lowest cell
    return out


def cell_residual_codes_arrow(
    quantizer: list[list[list[float]]],
    codebooks: list[list[list[float]]],
    perm: list[int] | None = None,
):
    """ONE-pass residual indexing kernel: vector → [cell, code_0..
    code_{m-1}] where the codes L2-quantize the RESIDUAL x −
    centroid(cell) (FAISS IndexIVFPQ's encode_vectors with
    by_residual=true). The centroid of a flat cell is the
    concatenation of its per-subspace centroids (unravel_index over
    the codebook sizes). Keeping cell assignment and residual encoding
    in one kernel keeps the index build at one raw-vector scan and
    guarantees the residual is taken against the SAME cell the row is
    stored under.

    `perm` (the OPQ arm) permutes the residual's dimensions before
    encoding — the FAISS OPQMatrix pre-transform restricted to the
    permutation family (opq_roundrobin_perm), which an exact-integer
    oracle can replay (a dense SVD rotation cannot be). The coarse
    cell is assigned in the ORIGINAL space; only the PQ subspace
    slicing sees the permuted layout."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    books = _coarse_books(quantizer)
    shape = tuple(len(b) for b in books)
    C = np.asarray(codebooks, dtype=np.float64)
    P = np.asarray(perm, dtype=np.int64) if perm is not None else None

    @pandas_udf(ArrayType(IntegerType()))
    def cell_codes(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        M = np.array(list(v), dtype=np.float64)
        flat = _coarse_scores(M, books)
        cells = np.argsort(-flat, axis=1, kind="stable")[:, 0]
        cent = np.concatenate(
            [b[i] for b, i in zip(books, np.unravel_index(cells, shape))],
            axis=1,
        )
        R = M - cent
        if P is not None:
            R = R[:, P]
        codes = _residual_l2_codes(R, C)
        return pd.Series(
            list(
                np.concatenate(
                    [cells[:, None].astype(np.int32), codes], axis=1
                )
            )
        )

    return cell_codes


def residual_frame(
    df: DataFrame,
    quantizer: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "residual",
) -> DataFrame:
    """Residual vectors against the coarse quantizer, as PURE Catalyst
    expressions: per subspace, cell = argmax <slice, cb> via
    nearest_cells' literal fold; residual = v − concat(centroids) via
    zip_with. This is the TRAINING-path residual builder
    (pq_codebooks_fit input): expression dot products are sequential
    folds, IEEE-identical to DuckDB's list_dot_product, so the trained
    codebooks replay bit-for-bit in the oracle (the kmeans_fit
    discipline) — the Arrow dgemm kernels are reserved for the index
    build, where a last-ulp argmax flip is measure-zero for scoring
    but would COMPOUND through training iterations. Ties take the
    higher cell (nearest_cells' reverse-sort; oracle mirrors with
    ORDER BY score DESC, cell DESC)."""
    parts, off = [], 1
    for cb in quantizer:
        d = len(cb[0])
        i = nearest_cells(F.slice(F.col(vec_col), off, d), cb, 1)[0]
        lit = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cb])
        parts.append(F.element_at(lit, i + 1))
        off += d
    return df.withColumn(
        out_col,
        F.zip_with(
            F.col(vec_col), F.concat(*parts), lambda a, b: a.cast("double") - b
        ),
    )


def coarse_topk(
    corpus: DataFrame,
    queries: DataFrame,
    quantizer: list[list[list[float]]],
    k: int = 5,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse-quantized approximate top-k (IVF for `[centroids]`, IMI
    for `[cb1, cb2]`): corpus vectors live in their single best cell;
    each query probes its `probes` best cells and ranks exact cosine
    within them. Equi-join on cell id → candidate count shrinks
    ~|cells|/probes vs the crossJoin; recall is tuned by `probes`
    (FAISS nprobe). The query side explodes to `probes` rows and
    broadcasts; assignment and re-rank are Arrow-batched numpy."""
    c = corpus.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        assign_cells_arrow(quantizer, 1)(F.col(vec_col))[0].alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        F.explode(
            assign_cells_arrow(quantizer, probes)(F.col(vec_col))
        ).alias("cell"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "cell")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("sim", _cosine_arrow(F.col("qvec"), F.col("nvec")))
    )
    return _topk(scored, "sim", k)


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 50_000,
    row_budget: int = EXACT_PAIRS_ROW_BUDGET,
    on_exceed: str = "raise",
    route_centroids: list[list[float]] | None = None,
) -> DataFrame:
    """All-pairs cosine ≥ threshold via distributed blocked BLAS —
    EXACT and therefore O(N²) by contract.

    Rows are hashed into ceil(N / block_rows) blocks by id; a tiny
    (bi ≤ bj) block-pair grid is broadcast and each side of the pair is
    routed to its groups, so every unordered row pair lands in exactly
    one (bi, bj) group. Each group runs one dgemm (`A @ B.T` — ~250M
    FLOPs in milliseconds where per-row expression folds take seconds)
    inside applyInPandas and emits pairs above threshold.

    Nothing is ever collected to the driver (r01 VERDICT flagged the
    previous broadcast-the-corpus shape): memory per task is two
    block_rows×d panels (~2×300 MB at d=768 and the default block_rows),
    and shuffle volume is N×(nblocks+1) rows — the standard replication
    cost of exact all-pairs.

    Scale gate: the quadratic FLOP bill is measured, not argued — the
    r05 10× ladder clocked this kernel at 1.70 per-mult, the only
    super-linear shape in the repo — so the input row count (already
    measured for the block grid) is checked against row_budget:

    - ``on_exceed="raise"`` (default): fail loudly with a pointer to
      the approximate operators (semantic_dedup / lsh_topk / coarse_topk)
      instead of silently burning an N² pass at 100×.
    - ``on_exceed="route"``: degrade to cell_cosine_pairs — the
      SemDeDup cell-bounded pair surface (ΣN_c² ≈ N²/k) — with a
      logged notice. Recall loss is cross-cell pairs only; exact recall
      callers must raise row_budget explicitly, which keeps the
      decision visible at the call site.
    """
    import math

    import numpy as np

    spark = df.sparkSession
    n = df.count()
    if n > row_budget:
        if on_exceed == "route":
            logger.warning(
                "cosine_near_dup_pairs: %d rows exceeds the exact "
                "all-pairs budget %d; routing through the SemDeDup "
                "cell-bounded pair surface (cross-cell pairs are not "
                "compared — raise row_budget for exact recall)",
                n,
                row_budget,
            )
            return cell_cosine_pairs(
                df,
                threshold,
                id_col=id_col,
                vec_col=vec_col,
                centroids=route_centroids,
                n_rows=n,
            )
        raise ValueError(
            f"cosine_near_dup_pairs is exact all-pairs (O(N²)) and the "
            f"input has {n} rows > row_budget={row_budget}. Use "
            f"semantic_dedup / lsh_topk / coarse_topk for approximate "
            f"workloads, pass on_exceed='route' to degrade to the "
            f"cell-bounded SemDeDup pair surface, or raise row_budget "
            f"to pay the quadratic bill explicitly."
        )
    nblocks = max(1, math.ceil(n / block_rows))
    grid = spark.createDataFrame(
        [(i, j) for i in range(nblocks) for j in range(i, nblocks)],
        "bi int, bj int",
    )
    src = df.select(
        F.col(id_col).alias("pid"),
        F.col(vec_col).alias("pvec"),
        F.pmod(F.col(id_col), F.lit(nblocks)).cast("int").alias("blk"),
    )
    a_side = src.join(F.broadcast(grid), src.blk == grid.bi).select(
        "bi", "bj", F.lit("a").alias("side"), "pid", "pvec"
    )
    b_side = src.join(F.broadcast(grid), src.blk == grid.bj).select(
        "bi", "bj", F.lit("b").alias("side"), "pid", "pvec"
    )
    both = a_side.unionByName(b_side)

    def kernel(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        amask = pdf["side"] == "a"
        A, B = pdf[amask], pdf[~amask]
        if not len(A) or not len(B):
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []})
        amat = np.array(list(A["pvec"]), dtype=np.float64)
        bmat = np.array(list(B["pvec"]), dtype=np.float64)
        aids = A["pid"].to_numpy()
        bids = B["pid"].to_numpy()
        # dot / (|a||b|), matching the oracle's operation order
        sims = (amat @ bmat.T) / np.outer(
            np.linalg.norm(amat, axis=1), np.linalg.norm(bmat, axis=1)
        )
        ii, jj = np.nonzero(sims >= threshold)
        ida, idb, s = aids[ii], bids[jj], sims[ii, jj]
        if bi == bj:
            # diagonal group: both sides are the same block — each pair
            # shows up twice plus the self-pair; keep the ordered half
            keep = ida < idb
            ida, idb, s = ida[keep], idb[keep], s[keep]
            lo, hi = ida, idb
        else:
            # off-diagonal blocks are disjoint id sets; orient the pair
            lo, hi = np.minimum(ida, idb), np.maximum(ida, idb)
        return pd.DataFrame(
            {"id_a": lo.astype(np.int64), "id_b": hi.astype(np.int64), "sim": s}
        )

    return both.groupBy("bi", "bj").applyInPandas(
        kernel, "id_a long, id_b long, sim double"
    )


#: Driver-side ceiling on sampled coarse-quantizer centroids (vectors
#: collected by _sample_centroids). 65,536 d=768 doubles ≈ 400 MB —
#: the most any routed-path caller should pull through the driver.
CENTROID_SAMPLE_CAP = 65_536


def _sample_centroids(
    df: DataFrame,
    n_rows: int,
    id_col: str,
    vec_col: str,
    cell_target: int = 4096,
) -> list[list[float]]:
    """Deterministic data-derived coarse quantizer for the routed pair
    surface: take k = ceil(n / cell_target) rows by md5(id) order (a
    distributed top-k — bounded collect of k vectors, never the corpus)
    and unit-normalize them. Uniform hash order ≈ a uniform sample, so
    expected cell population is ~cell_target; callers needing balanced
    cells pass trained kmeans centroids instead (clustering.kmeans_fit).
    """
    import logging
    import math

    import numpy as np

    k = max(2, math.ceil(n_rows / cell_target))
    if k > CENTROID_SAMPLE_CAP:
        # r06 VERDICT finding #4: uncapped, k = ceil(N/4096) collects
        # ~1.5 GB of vectors onto the driver at N=1e9/d=768. Cap the
        # sample (cells get proportionally fuller) and point callers at
        # the distributed trainer for corpora that need more cells.
        logging.getLogger(__name__).warning(
            "_sample_centroids: capping centroid sample at %d (requested "
            "%d for n_rows=%d); cells will average %.0f rows — pass "
            "trained centroids from clustering.kmeans_fit for balanced "
            "cells at this scale",
            CENTROID_SAMPLE_CAP,
            k,
            n_rows,
            n_rows / CENTROID_SAMPLE_CAP,
        )
        k = CENTROID_SAMPLE_CAP
    rows = (
        df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.col("i").cast("string")))
        .limit(k)
        .collect()
    )
    m = np.array([r["v"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return (m / norms).tolist()


def cell_cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Cosine ≥ threshold pairs compared ONLY within coarse-quantizer
    cells — the SemDeDup pair surface (see semantic_dedup) emitting the
    pairs themselves instead of keep flags, so it can stand in for
    cosine_near_dup_pairs when the exact row budget is blown.

    Same 100 TB shape as semantic_dedup: cell assignment is one Arrow
    dgemm scan, the quadratic surface is per-cell (ΣN_c² ≈ N²/k), one
    dgemm per cell inside applyInPandas. Misses cross-cell pairs by
    construction; near-dup pairs have cosine near 1 and land in the
    same cell with high probability (the SemDeDup argument).
    """
    import numpy as np

    if centroids is None:
        centroids = _sample_centroids(
            df, n_rows if n_rows is not None else df.count(), id_col, vec_col
        )

    cell = assign_cells_arrow([centroids], 1)(F.col(vec_col))[0]
    e = df.select(F.col(id_col), F.col(vec_col), cell.cast("int").alias("cell"))

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        m = np.array(list(pdf[vec_col]), dtype=np.float64)[order]
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        sims = (m @ m.T) / np.outer(norms, norms)
        ii, jj = np.nonzero(sims >= threshold)
        keep = ii < jj
        ii, jj = ii[keep], jj[keep]
        return pd.DataFrame(
            {
                "id_a": ids[ii].astype(np.int64),
                "id_b": ids[jj].astype(np.int64),
                "sim": sims[ii, jj] if len(ii) else np.array([], dtype=np.float64),
            }
        )

    return e.groupBy("cell").applyInPandas(
        kernel, "id_a long, id_b long, sim double"
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication for web-scale training data. Cluster the embedding
    space with a coarse quantizer, compare pairs ONLY within a cluster,
    and drop every vector that has a more-canonical (lower-id) neighbor
    at cosine ≥ threshold. Returns (id_col, cell, keep boolean).

    100 TB shape — the paper's point re-expressed as a plan: the
    quadratic surface is per-cell (ΣN_c² ≈ N²/k for balanced cells),
    realized as an equi-join on the cell id, never a global all-pairs;
    cell assignment is the same Arrow dgemm scan the IVF index uses
    (assign_cells_arrow), centroids travel in the kernel closure. The
    keep rule is per-pair (drop the larger id of any qualifying pair),
    deterministic and closure-free — compare cosine_near_dup_pairs, the
    global exact verifier this replaces on corpus-scale runs.

    Within-cell similarity runs as one dgemm per cell inside
    applyInPandas (measured ~6x the fold-expression pair join at sf0.1:
    the join redistributes onto only k cell-partitions and pays the
    interpreted 64-element fold per pair, the kernel pays milliseconds
    of BLAS). Task memory is cell_size × d doubles — if a cell
    outgrows that, raise the centroid count (smaller cells) or run the
    blocked cosine_near_dup_pairs kernel inside the offending cell;
    AQE's skew split cannot help a single group, so cell balance IS the
    memory model, same as FAISS IVF list sizing.
    """
    import numpy as np

    cell = assign_cells_arrow([centroids], 1)(F.col(vec_col))[0]
    e = corpus.select(
        F.col(id_col), F.col(vec_col), cell.cast("int").alias("cell")
    )

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)  # index order == id order below
        ids = ids[order]
        m = np.array(list(pdf[vec_col]), dtype=np.float64)[order]
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        sims = (m @ m.T) / np.outer(norms, norms)
        ii, jj = np.nonzero(sims >= threshold)
        dropped = np.unique(jj[ii < jj])  # larger-id member of any pair
        keep = np.ones(len(ids), dtype=bool)
        keep[dropped] = False
        return pd.DataFrame(
            {id_col: ids, "cell": int(key[0]), "keep": keep}
        )

    return e.groupBy("cell").applyInPandas(
        kernel, f"{id_col} long, cell int, keep boolean"
    )


def semantic_decontam(
    train: DataFrame,
    val: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic eval-set decontamination — the embedding-space analogue
    of the n-gram decontamination family (functions.decontam): find
    validation/benchmark vectors whose cosine against ANY training
    vector reaches `threshold`, i.e. eval items the model will have
    effectively seen even though no n-gram matches. Returns one row per
    leaked val vector: (id, cell, n_train_hits, max_sim).

    Same 100 TB shape as semantic_dedup (the SemDeDup argument): both
    sides are assigned to coarse-quantizer cells by one Arrow dgemm
    scan, and train×val similarities are computed ONLY within a cell —
    one dgemm per cell inside applyInPandas, never a global cross
    product. Near-duplicates sit at cosine ≈ 1 and land in the same
    cell with high probability; exact-recall audits can run the blocked
    cosine_near_dup_pairs kernel on the val side's candidate cells.
    max_sim is the max over QUALIFYING train sims (≥ threshold), so the
    report is stable under cell-population changes below the cut."""
    import numpy as np

    cell = assign_cells_arrow([centroids], 1)(F.col(vec_col))[0]
    tagged = train.select(
        F.col(id_col),
        F.col(vec_col),
        F.lit(False).alias("__is_val"),
        cell.cast("int").alias("cell"),
    ).unionByName(
        val.select(
            F.col(id_col),
            F.col(vec_col),
            F.lit(True).alias("__is_val"),
            cell.cast("int").alias("cell"),
        )
    )

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        vmask = pdf["__is_val"].to_numpy()
        T, V = pdf[~vmask], pdf[vmask]
        if not len(T) or not len(V):
            return pd.DataFrame(
                {id_col: [], "cell": [], "n_train_hits": [], "max_sim": []}
            )
        tm = np.array(list(T[vec_col]), dtype=np.float64)
        vm = np.array(list(V[vec_col]), dtype=np.float64)
        tn = np.linalg.norm(tm, axis=1)
        vn = np.linalg.norm(vm, axis=1)
        tn[tn == 0.0] = 1.0
        vn[vn == 0.0] = 1.0
        sims = (tm @ vm.T) / np.outer(tn, vn)  # train x val
        hits = sims >= threshold
        n_hits = hits.sum(axis=0)
        keep = n_hits > 0
        masked = np.where(hits, sims, -np.inf)
        return pd.DataFrame(
            {
                id_col: V[id_col].to_numpy()[keep],
                "cell": int(key[0]),
                "n_train_hits": n_hits[keep].astype(np.int64),
                "max_sim": masked.max(axis=0)[keep],
            }
        )

    return tagged.groupBy("cell").applyInPandas(
        kernel, f"{id_col} long, cell int, n_train_hits long, max_sim double"
    )


def make_planes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (numpy PCG64, fixed seed)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


# -- Product quantization (ADC) ---------------------------------------------


def clustered_embedding_col(
    label_col: str = "label",
    vec_col: str = "embedding",
    spread: float = 0.15,
) -> Column:
    """The CLUSTERED embeddings fixture (r12 VERDICT ask #1) as a pure
    Catalyst expression: the driver's synthetic embeddings are
    near-isotropic (k-means k=8 explains ~7% of variance — measured in
    queries.imi_pq_residual_recall), so index-quality deltas land in
    the 0.02–0.05 recall band and a good index is indistinguishable
    from a mediocre one. This derives a mixture-of-Gaussians variant
    DETERMINISTICALLY from the existing parquet — no side files, so a
    DuckDB oracle replays it with the twin SQL expression
    (queries._clustered_e_sql):

        cvec[i] = double(vec[i])
                  + spread * (((label+1)*73 + i*37) % 13 - 6) / 6.0

    The center term is integer arithmetic until the final two float
    ops, and the op order matches the SQL twin exactly, so the fixture
    is bit-identical across engines (verified in
    tests/test_dedup_similarity.py). `spread` sets the
    between-cluster variance share: 0 reproduces the isotropic corpus;
    0.15 ≈ 0.35 share (the numpy prototype's sweet spot — residual-PQ
    and trained-coarse wins separate 2.4–23× vs isotropic; see
    scripts/proto_clustered_fixture.py)."""
    return F.transform(
        F.col(vec_col),
        lambda x, i: x.cast("double")
        + F.lit(float(spread))
        * (
            ((F.col(label_col) + F.lit(1)) * F.lit(73) + i * F.lit(37))
            % F.lit(13)
            - F.lit(6)
        )
        / F.lit(6.0),
    )


def make_pq_codebooks(
    dim: int, m: int = 8, ksub: int = 8, seed: int = 11
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: m subspaces of dim/m each, ksub
    centroids per subspace (seeded normals, unit-normalized). The
    fixed-geometry analogue of the IVF seed centroids; swap in k-means
    trained sub-centroids (functions.clustering) for production recall."""
    import numpy as np

    assert dim % m == 0, "dim must divide evenly into m subspaces"
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((m, ksub, dim // m))
    c /= np.linalg.norm(c, axis=2, keepdims=True)
    return c.tolist()


def pq_code_rows(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoding as (id, j, cell) rows: for each subspace j, the
    argmax-inner-product centroid of the j-th vector slice (the
    FAISS IndexPQ METRIC_INNER_PRODUCT quantizer). One scan, no
    shuffle; the codebooks fold into the plan as literals. Ties break
    by ascending cell id (stable in any engine).

    The code table is the compressed index a production system persists:
    m small ints per vector (m bytes at ksub<=256) instead of dim
    floats — 32× smaller at d=64, m=8."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])

    def argmax_cell(j: int) -> Column:
        sub = F.slice(F.col(vec_col), j * dsub + 1, dsub)
        pairs = F.array(
            *[
                F.struct(
                    dot(sub, F.array(*[F.lit(float(x)) for x in c])).alias("score"),
                    F.lit(-cid).alias("negcell"),
                )
                for cid, c in enumerate(codebooks[j])
            ]
        )
        # max struct = (highest score, then highest negcell = lowest cell)
        return -F.array_max(pairs)["negcell"]

    coded = df.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        argmax_cell(j).cast("int").alias("cell"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("jc"),
    )
    return coded.select(id_col, F.col("jc.j").alias("j"), F.col("jc.cell").alias("cell"))


def pq_codes_arrow(codebooks: list[list[list[float]]]):
    """The PQ encoder as a reusable Arrow kernel: vector → m-length
    codes array<int>, one `batch_sub @ codebook.T` dgemm per subspace
    per Arrow batch, stable argmax (ties → lowest cell id). Both code
    layouts derive from this one kernel — the row form
    (pq_code_rows_arrow, for LUT-join scoring) and the array form
    (pq_index_frame, the index payload) — so they cannot
    drift."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    m, _ksub, dsub = C.shape

    @pandas_udf(ArrayType(IntegerType()))
    def codes(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        M = np.array(list(v), dtype=np.float64)  # (n, d)
        out = np.empty((len(M), m), dtype=np.int32)
        for j in range(m):
            scores = M[:, j * dsub : (j + 1) * dsub] @ C[j].T  # (n, ksub)
            out[:, j] = np.argmax(scores, axis=1)  # first max = lowest cell
        return pd.Series(list(out))

    return codes


def pq_code_rows_arrow(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched PQ encoding: one `batch_sub @ codebook.T` dgemm per
    subspace per Arrow batch, stable argmax (ties → lowest cell id).

    Same IVF lesson as assign_cells_arrow: the literal-expression
    encoder builds m·ksub·dsub literals into the plan, exceeds the
    codegen method-size limit and runs interpreted (measured ~2.5 s vs
    ~0.4 s at sf0.1). Exactness: dgemm accumulation can differ from the
    sequential fold by ~1 ulp; argmax cells are unaffected away from
    exact score ties (asserted equal to the expression encoder in
    tests), and downstream ADC sums round at 4dp in DECIMAL where a
    1e-17 delta is measure-negligible — the same kernel-equivalence
    budget the driver-checked knn_ivf already relies on.
    Output matches pq_code_rows: (id, j, cell) rows."""
    codes = pq_codes_arrow(codebooks)
    return (
        df.select(F.col(id_col), codes(F.col(vec_col)).alias("__codes"))
        .select(
            id_col,
            F.posexplode("__codes").alias("j", "cell"),
        )
        .select(id_col, F.col("j").cast("int"), F.col("cell").cast("int"))
    )


def pq_lut_rows(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-query ADC lookup table as (qid, j, cell, s) rows: the inner
    product of each query sub-slice with every sub-centroid. |Q|·m·ksub
    rows — tiny for query batches, broadcast to the code join."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    entries = []
    for j in range(m):
        sub = F.slice(F.col(vec_col), j * dsub + 1, dsub)
        for cid, c in enumerate(codebooks[j]):
            entries.append(
                F.struct(
                    F.lit(j).alias("j"),
                    F.lit(cid).alias("cell"),
                    dot(sub, F.array(*[F.lit(float(x)) for x in c])).alias("s"),
                )
            )
    return queries.select(
        F.col(id_col).alias("qid"), F.explode(F.array(*entries)).alias("e")
    ).select("qid", "e.j", "e.cell", "e.s")


def pq_lut_rows_arrow(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    perm: list[int] | None = None,
) -> DataFrame:
    """Arrow-batched ADC LUT: same output as pq_lut_rows, computed as
    one dgemm per subspace instead of m·ksub literal fold expressions
    (which cost ~600 driver py4j calls per plan build and push the
    query-side projection out of codegen). `perm` permutes the query
    dimensions before subspace slicing — REQUIRED when probing an
    OPQ-encoded index (codes live in the permuted layout; an
    unpermuted LUT silently scores garbage, which is why the perm is
    part of the persisted layout guard)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, DoubleType

    C = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    P = np.asarray(perm, dtype=np.int64) if perm is not None else None
    m, ksub, dsub = C.shape

    @pandas_udf(ArrayType(DoubleType()))
    def luts(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        M = np.array(list(v), dtype=np.float64)
        if P is not None:
            M = M[:, P]
        out = np.empty((len(M), m * ksub), dtype=np.float64)
        for j in range(m):
            out[:, j * ksub : (j + 1) * ksub] = (
                M[:, j * dsub : (j + 1) * dsub] @ C[j].T
            )
        return pd.Series(list(out))

    return (
        queries.select(
            F.col(id_col).alias("qid"), luts(F.col(vec_col)).alias("__lut")
        )
        .select("qid", F.posexplode("__lut").alias("idx", "s"))
        .select(
            "qid",
            (F.col("idx") / ksub).cast("int").alias("j"),
            (F.col("idx") % ksub).cast("int").alias("cell"),
            "s",
        )
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ-compressed index:
    approximate inner product = sum over subspaces of the query's LUT
    entry for the corpus vector's code. The corpus side never touches
    raw vectors after encoding — at 100 TB the scan reads the m-byte
    code table, the LUT broadcast is |Q|·m·ksub rows, and the only wide
    op is the per-(qid, nid) m-row sum (map-side combined on a composite
    key that is already co-partitioned with the code table).

    Output: qid, nid, adc (approximate IP), rank. Rank ties break by
    nid asc. Exactness note: the oracle-checked query variant rounds the
    ADC sum in DECIMAL (order-independent); this library path keeps the
    raw double sum."""
    codes = pq_code_rows(corpus, codebooks, id_col, vec_col).withColumnRenamed(
        id_col, "nid"
    )
    lut = pq_lut_rows(queries, codebooks, id_col, vec_col)
    scored = (
        codes.join(F.broadcast(lut), ["j", "cell"])
        .filter(F.col("qid") != F.col("nid"))
        .groupBy("qid", "nid")
        .agg(F.sum("s").alias("adc"))
    )
    return _topk(scored, "adc", k)


# -- Random projection (Johnson-Lindenstrauss) ------------------------------


def rp_project(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Random-projection dimensionality reduction: d → len(planes) dims
    by dotting each vector against fixed Gaussian directions (the
    Johnson-Lindenstrauss transform). The cheap preprocessing stage in
    front of clustering / ANN when d is large: pairwise geometry is
    preserved within ~sqrt(log n / k) distortion, and every downstream
    shuffle carries k floats instead of d.

    Expression-built (one zip_with/aggregate fold per output dim) so the
    arithmetic is a sequential JVM fold — bit-reproducible against a SQL
    engine's list_dot_product, which is what lets a driver oracle replay
    the projection exactly. Past a few dozen output dims the literal
    plan outgrows codegen (the IVF lesson) — switch to the Arrow dgemm
    kernel (ivf_assign-style) and give up bit parity for throughput."""
    plane_cols = [F.array(*[F.lit(float(x)) for x in p]) for p in planes]
    proj = F.array(*[dot(F.col(vec_col), pc) for pc in plane_cols])
    return df.select(F.col(id_col), proj.alias(out_col))


# -- The PQ index: (id, codes, cell) rows under a coarse quantizer ---------


def _cell_col(quantizer: list) -> str:
    """Cell column of an index under `quantizer` (its partition key on
    disk): `ivf_cell` for a 1-way (flat IVF) quantizer, `imi_cell` for
    a multi-index."""
    return "ivf_cell" if len(quantizer) == 1 else "imi_cell"


def _check_encoding(encoding: str, perm: list[int] | None) -> None:
    """The one validator of the (encoding, perm) pair for every PQ
    index entry point: opq needs the trained permutation, and a
    permutation means nothing to the other encodings."""
    if encoding not in ("raw", "residual", "opq"):
        raise ValueError(
            f"encoding must be 'raw', 'residual' or 'opq', got {encoding!r}"
        )
    if (encoding == "opq") != (perm is not None):
        raise ValueError(
            "encoding='opq' and perm go together "
            f"(got encoding={encoding!r}, perm={'set' if perm else None})"
        )


def pq_layout(
    quantizer: list[list[list[float]]],
    codebooks: list[list[list[float]]],
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> dict:
    """Layout constants of a PQ index — persisted next to the rows and
    checked on every write, ingest and serve: the cell counts (`cells`
    for a 1-way quantizer, `k1`, `k2`, … per subspace otherwise), the
    PQ width, the digest of every float that determines cells and
    codes, and the code ENCODING. All are correctness-load-bearing — a
    residual index scored without the <q, centroid> offset (or vice
    versa) silently returns wrong neighbors, and ensure_layout /
    check_pq_layout turn that into a loud config error. Indexes written
    before `encoding` existed carry no such field and refuse BOTH
    forms — a rebuild, not a guess. encoding="opq" additionally
    carries the trained dimension permutation VERBATIM: opq codes live
    in the permuted subspace layout, so a probe LUT built under a
    different (or no) permutation silently scores garbage — the perm
    is layout, not a serve-time knob."""
    import hashlib
    import json

    _check_encoding(encoding, perm)
    if len(quantizer) == 1:
        layout = {"cells": len(quantizer[0])}
    else:
        layout = {f"k{b + 1}": len(cb) for b, cb in enumerate(quantizer)}
    layout["m"] = len(codebooks)
    layout["codebooks_md5"] = hashlib.md5(
        json.dumps([*quantizer, codebooks]).encode()
    ).hexdigest()
    layout["encoding"] = encoding
    if perm is not None:
        layout["perm"] = [int(p) for p in perm]
    return layout


def pq_index_frame(
    corpus: DataFrame,
    quantizer: list[list[list[float]]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> DataFrame:
    """The PQ index ROWS — (id, codes array<int>, cell) with cell in
    `ivf_cell`/`imi_cell` (_cell_col) — without a store: what
    write_pq_index persists and the streaming ingest commits (all
    stores build through this, so the row layout cannot drift), and
    the in-memory index audits score directly. ONE raw-vector pass and
    ZERO shuffles: cell and codes kernels evaluate in a single
    projection over the scan — also the streaming ingest's
    per-micro-batch cost, where an explode→regroup shuffle would
    dominate small batches.

    encoding="raw" stores the IP-argmax codes of x (pq_codes_arrow);
    "residual" and "opq" take cell and codes from ONE kernel
    (cell_residual_codes_arrow) so the residual is taken against the
    exact cell the row is stored under. "opq" encodes `perm`-permuted
    residuals (opq_roundrobin_perm); its codebooks must have been
    trained on the permuted residual frame."""
    _check_encoding(encoding, perm)
    cell = _cell_col(quantizer)
    vec = F.col(vec_col)
    if encoding == "raw":
        return corpus.select(
            F.col(id_col),
            pq_codes_arrow(codebooks)(vec).alias("codes"),
            assign_cells_arrow(quantizer, 1)(vec)[0].alias(cell),
        )
    arr = cell_residual_codes_arrow(quantizer, codebooks, perm)(vec)
    return corpus.select(
        F.col(id_col),
        F.slice(arr, 2, len(codebooks)).alias("codes"),
        F.element_at(arr, 1).alias(cell),
    )


def write_pq_index(
    corpus: DataFrame,
    quantizer: list[list[list[float]]],
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> DataFrame:
    """Persist the PQ index — the FAISS IndexIVFPQ inverted-list layout
    on parquet: one row per vector (id, codes array<int>, cell),
    hive-partitioned by the cell column. Indexing reads the raw vectors
    ONCE; every later search reads cell id + m code bytes per vector
    and, because the cell is the partition key, a probe join prunes to
    ~probes/|cells| of the FILES before any byte is read (dynamic
    partition pruning from the broadcast probe list — plan-asserted in
    tests). With an IMI quantizer this is the layout that survives
    1e9+ vectors: K1·K2 cell-bounded partitions while the quantizer
    state that broadcasts at build and search time stays K1+K2
    half-width centroids. Returns the write_corpus manifest.

    The layout (pq_layout) is persisted after the rows
    (streaming/index.py:ensure_layout — the writer wipes the
    directory), behind a sibling pending-write marker, so
    load_pq_index refuses a probe under a different geometry or
    encoding and refuses a half-written rebuild."""
    from bearysta_spark.sinks import write_corpus
    from bearysta_spark.streaming.index import (
        clear_pending_write,
        ensure_layout,
        mark_pending_write,
    )

    layout = pq_layout(quantizer, codebooks, encoding, perm)
    spark = corpus.sparkSession
    mark_pending_write(spark, path, layout)  # see write_lsh_index
    idx = pq_index_frame(
        corpus, quantizer, codebooks, id_col, vec_col, encoding, perm
    )
    manifest = write_corpus(idx, path, partition_by=[_cell_col(quantizer)])
    ensure_layout(spark, path, layout)
    clear_pending_write(spark, path)
    return manifest


def check_pq_layout(
    spark,
    path: str,
    quantizer: list[list[list[float]]],
    codebooks: list[list[list[float]]],
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> None:
    """The read-side guard of every PQ store (batch and live): raise if
    the layout persisted at `path` differs from the caller's — an index
    built under one quantizer/encoding and probed under another
    silently returns wrong neighbors. A layout-less index is admitted
    as pre-layout legacy (its geometry cannot be inferred from code
    rows) UNLESS a pending-write marker shows it is an interrupted
    rebuild. Never creates layout state."""
    from bearysta_spark.streaming.index import (
        check_pending_write,
        read_layout,
    )

    want = pq_layout(quantizer, codebooks, encoding, perm)
    cur = read_layout(path, spark)
    if cur is None:
        check_pending_write(spark, path)
    elif cur != want:
        raise ValueError(
            f"PQ index layout mismatch at {path}: persisted {cur}, "
            f"caller expects {want} — searching an index built under a "
            "different quantizer geometry returns wrong neighbors"
        )


def load_pq_index(
    spark,
    path: str,
    quantizer: list[list[list[float]]],
    codebooks: list[list[list[float]]],
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> DataFrame:
    """Read a persisted PQ index (write_pq_index) through the
    quantizer-geometry guard (check_pq_layout)."""
    check_pq_layout(spark, path, quantizer, codebooks, encoding, perm)
    return spark.read.parquet(path)


def _pq_candidates(
    index: DataFrame,
    queries: DataFrame,
    quantizer: list[list[list[float]]],
    codebooks: list[list[list[float]]],
    probes: int,
    id_col: str,
    vec_col: str,
    adc_agg,
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> DataFrame:
    """Every candidate a `probes`-probe search scores, with its ADC
    score and the probe RANK (prn, 0-based) of the cell it was found
    in: (qid, nid, prn, adc). The broadcast probe list lets the cell
    equi-join dynamically prune the index partitions; the broadcast
    ADC LUT scores the codes. A probes=p search sees exactly the
    prn < p slice of a wider one and ADC does not depend on prn, so
    sweeps score once at max(probes) and read every grid point off
    this frame.

    Residual/opq indexes (the encoding must match how the index was
    written — the layout guard enforces it at load) add qc = <q,
    centroid(cell)>, the coarse-centroid term the residual codes
    dropped at encode time. The combine is exact-decimal (both addends
    cast to DECIMAL(25,10), rounded at 4dp) so it is order-independent
    and engine-replayable; qc is constant per (qid, nid) group because
    a vector is stored under exactly one cell. opq builds the LUT over
    `perm`-permuted query dims; the offset is permutation-invariant
    and stays in the original space."""
    _check_encoding(encoding, perm)
    if adc_agg is None:
        adc_agg = F.sum
    cell = _cell_col(quantizer)
    residual = encoding != "raw"
    probe = queries.select(
        F.col(id_col).alias("qid"),
        F.posexplode(
            assign_cells_arrow(quantizer, probes, with_qc=residual)(
                F.col(vec_col)
            )
        ).alias("prn", "__pc"),
    )
    if residual:
        probe = probe.select(
            "qid", "prn", F.col("__pc.cell").alias(cell), "__pc.qc"
        )
    else:
        probe = probe.withColumnRenamed("__pc", cell)
    lut = pq_lut_rows_arrow(queries, codebooks, id_col, vec_col, perm=perm)
    grouped = (
        index.join(F.broadcast(probe), cell)
        .filter(F.col("qid") != F.col(id_col))
        .select(
            "qid",
            F.col(id_col).alias("nid"),
            "prn",
            *(["qc"] if residual else []),
            F.posexplode("codes").alias("j", "cell"),
        )
        .join(F.broadcast(lut), ["qid", "j", "cell"])
        .groupBy("qid", "nid", "prn")
    )
    if not residual:
        return grouped.agg(adc_agg(F.col("s")).alias("adc"))
    return grouped.agg(
        adc_agg(F.col("s")).alias("__adc_r"), F.max("qc").alias("__qc")
    ).select(
        "qid",
        "nid",
        "prn",
        F.round(
            F.col("__adc_r").cast("decimal(25,10)")
            + F.col("__qc").cast("decimal(25,10)"),
            4,
        )
        .cast("double")
        .alias("adc"),
    )


def pq_topk_from_index(
    index: DataFrame,
    queries: DataFrame,
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
    """PQ top-k from any store's rows — a loaded persisted index, a
    live stream view, or an in-memory pq_index_frame: queries probe
    their `probes` best cells, the broadcast probe list prunes the cell
    partitions before any byte is read, and candidates rank by the PQ
    ADC LUT sum — raw corpus vectors never touch the search path.
    Output (qid, nid, adc, rank), ties by nid asc. 100 TB shape: the
    scan reads cell id + m bytes per vector; the probe list and LUT
    broadcast; the only wide op is the map-side-combined per-(qid,
    nid) ADC sum. `adc_agg` overrides that aggregate (the
    oracle-checked queries pass a DECIMAL-rounded sum; default raw
    double sum). `encoding`/`perm` must match how the index was
    written (see _pq_candidates)."""
    return _topk(
        _pq_candidates(
            index, queries, quantizer, codebooks, probes, id_col, vec_col,
            adc_agg, encoding, perm,
        ),
        "adc",
        k,
    )


def _probe_ranks(scored: DataFrame, plist) -> DataFrame:
    """(qid, nid, prn, __r<p> for p in plist) where __r<p> is the
    candidate's ADC rank WITHIN the prn < p slice: one running
    conditional count per probes value over the shared (adc DESC, nid
    ASC) total order — a running count of slice members over the total
    order IS the slice row_number — so a whole probes grid costs one
    window pass instead of one window + union per grid point."""
    w = (
        Window.partitionBy("qid")
        .orderBy(F.desc("adc"), F.asc("nid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return scored.select(
        "qid",
        "nid",
        "prn",
        *[
            F.sum(F.when(F.col("prn") < p, 1).otherwise(0))
            .over(w)
            .alias(f"__r{p}")
            for p in plist
        ],
    )


def opq_roundrobin_perm(
    df: DataFrame, m: int = 8, vec_col: str = "residual"
) -> list[int]:
    """Train the OPQ dimension permutation — the rotation family the
    exact-replay oracle discipline admits (OPQ, Ge et al. 2014,
    restricts R to a learned orthogonal transform; a dense SVD
    rotation is not expressible in engine-identical arithmetic, so
    this implements the PERMUTATION member: balanced allocation of
    variance-ranked dimensions, the paper's eigenvalue-allocation idea
    without the PCA basis). Rule: rank dims by a variance score
    (desc, ties by dim asc), deal them ROUND-ROBIN to the m subspaces
    — rank i lands at position (i % m)*dsub + i // m. On the clustered
    fixture this buys +0.032 recall@p16 over identity at equal code
    bytes (~40% of the numpy-measured dense-SVD ceiling; see
    scripts/proto_opq.py and BASELINE.md r13).

    ENGINE-IDENTICAL scoring: s1 = SUM(DECIMAL(25,10) quantized
    values) and s2 = SUM(DECIMAL(25,10) quantized squares of the
    quantized values) are exact decimal sums (partition-order
    independent); the score n·s2 − s1·s1 is then three IEEE double ops
    on identical inputs, so both engines produce the identical double
    and the identical ranking — no near-tie risk (a DuckDB oracle
    replays the ranking with the same expression; see
    the rvd/rvs/rrk/pmap CTEs of queries._residual_recall_oracle_sql(opq=True)). Driver state: one 64-row collect."""
    dim_rows = (
        df.select(F.posexplode(vec_col).alias("dim", "rv"))
        .groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("rv").cast("decimal(25,10)")).alias("s1"),
            F.sum(
                (
                    F.col("rv").cast("decimal(25,10)").cast("double")
                    * F.col("rv").cast("decimal(25,10)").cast("double")
                ).cast("decimal(25,10)")
            ).alias("s2"),
        )
        .select(
            "dim",
            (
                F.col("n").cast("double") * F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double")
            ).alias("score"),
        )
        .collect()
    )
    d = len(dim_rows)
    if d % m != 0:
        raise ValueError(
            f"opq_roundrobin_perm: dim {d} must divide into m={m} subspaces"
        )
    dsub = d // m
    ranked = [
        r["dim"]
        for r in sorted(dim_rows, key=lambda r: (-r["score"], r["dim"]))
    ]
    # position p takes the dim ranked (p % dsub)*m + p // dsub's inverse:
    # rank i -> position (i % m)*dsub + i // m, so perm[p] = ranked[t*m + j]
    # with j = p // dsub, t = p % dsub (an 8x8 transpose — involution)
    return [ranked[(p % dsub) * m + p // dsub] for p in range(d)]


def pq_probe_sweep(
    index: DataFrame,
    queries: DataFrame,
    quantizer: list[list[list[float]]],
    codebooks: list[list[list[float]]],
    probes_list: tuple[int, ...],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_agg=None,
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> DataFrame:
    """Top-k at EVERY probes value in one pass — the sweep form of
    pq_topk_from_index: candidates are scored ONCE at max(probes_list)
    carrying their probe rank (_pq_candidates) and every grid point is
    read off ONE window pass (_probe_ranks) + one explode, no cache
    needed. The per-point result is identical to a standalone
    probes=p search. Returns (probes, qid, nid) top-k rows."""
    ranked = _probe_ranks(
        _pq_candidates(
            index, queries, quantizer, codebooks, max(probes_list), id_col,
            vec_col, adc_agg, encoding, perm,
        ),
        sorted(set(probes_list)),
    )
    return (
        ranked.select(
            "qid",
            "nid",
            F.explode(
                F.array(
                    *[
                        F.when(
                            (F.col("prn") < p) & (F.col(f"__r{p}") <= k),
                            F.lit(p),
                        ).cast("int")
                        for p in probes_list
                    ]
                )
            ).alias("probes"),
        )
        .filter(F.col("probes").isNotNull())
        .select("probes", "qid", "nid")
    )


def pq_topk_refined(
    index: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    quantizer: list[list[list[float]]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    probes: int = 1,
    refine: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_agg=None,
    shortlist: DataFrame | None = None,
    encoding: str = "raw",
    perm: list[int] | None = None,
) -> DataFrame:
    """Two-stage PQ search with EXACT refinement — the FAISS
    IndexRefineFlat shape production serving actually runs: stage 1
    shortlists `refine` candidates per query by the lossy PQ ADC score
    from the codes-only index (pq_topk_from_index — partition-pruned,
    never a raw corpus float), stage 2 fetches ONLY the shortlist's raw
    vectors (a left-semi-pruned point read of ~refine·|Q| rows from the
    vectors store) and re-ranks by exact cosine. This buys back the
    quantization error at a cost that scales with |Q|·refine, never the
    corpus: the 100 TB scan stays m bytes/vector, and full-width floats
    are touched for a few dozen rows per query. Output: (qid, nid, sim,
    rank), ties by nid asc. The |Q|·refine-row shortlist is
    scope-cached — it feeds both the vector-fetch semi-join and the
    rerank join, and recomputing the whole ADC stage per consumer would
    double stage-1 cost (callers registering this must use
    scoped_caches=True). Pass `shortlist` ((qid, nid) rows, e.g. an
    already-cached k=refine search) to skip stage 1 entirely — the
    recall audit reranks the same frame its ceiling row reads, so the
    two cannot drift."""
    from bearysta_spark.cachescope import scoped_cache

    short = (
        shortlist.select("qid", "nid")
        if shortlist is not None
        else scoped_cache(
            pq_topk_from_index(
                index, queries, quantizer, codebooks,
                k=refine, probes=probes, id_col=id_col, vec_col=vec_col,
                adc_agg=adc_agg, encoding=encoding, perm=perm,
            ).select("qid", "nid")
        )
    )
    nv = vectors.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
    ).join(short.select("nid").distinct(), "nid", "left_semi")
    qv = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    scored = (
        short.join(F.broadcast(qv), "qid")
        .join(nv, "nid")
        .withColumn("sim", cosine(F.col("qvec"), F.col("nvec")))
    )
    return _topk(scored, "sim", k)


def pq_operating_curve(
    index: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    quantizer: list[list[list[float]]],
    codebooks: list[list[list[float]]],
    probes_list: tuple[int, ...] = (1, 2, 4, 8),
    refine_list: tuple[int, ...] = (5, 15, 30),
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_agg=None,
) -> DataFrame:
    """The FAISS-style TUNING TABLE for the two-stage PQ search: sweep
    the (probes × refine) grid over a raw-encoded index and report, per
    cell, the candidate volume (and its fraction of the corpus — what
    stage 1 actually scans), the exact-rerank row count (what stage 2
    pays), and refined top-k recall against brute-force cosine truth.
    The curve is what a serving owner reads to pick parameters — it
    shows where the shortlist ceiling stops binding (raising refine
    past the probe bound buys nothing) and what each extra probe costs
    in scanned fraction. Output: (probes, refine, n_candidates,
    scanned_ppm, rerank_rows, hits, recall_ppm), one row per grid
    cell, integer ppm (1e6·x // denom) throughout.

    Cost shape: ONE stage-1 search for the whole grid — candidates are
    scored once at max(probes) with their probe rank (_pq_candidates),
    one window pass of running conditional counts gives every
    candidate's ADC rank at every probes value (_probe_ranks), the
    grid's integer stats come from one aggregate, and the exact rerank
    is one shortlist explode + one raw-vector fetch + one rerank window
    + one truth join for ALL (probes, refine) cells; truth is |Q|·N
    brute force (an audit, run on samples at 100 TB); raw full-width
    rows are touched for ~max(refine)·|Q| rows per probes value total.
    Callers registering this must use scoped_caches=True.

    ASSUMPTION: `queries` is a SUBSET of `vectors` — the scanned_ppm
    denominator is |Q|·(N−1), matching the qid != nid self-exclusion in
    _pq_candidates. For an external query set nothing is
    self-excluded, candidates can reach |Q|·N, and scanned_ppm could
    exceed 1_000_000; callers auditing a disjoint query batch should
    read n_candidates (exact either way) rather than the ppm column.
    The registered query satisfies the assumption (queries = vec_id < 5
    of the corpus)."""
    from bearysta_spark.cachescope import scoped_cache

    truth = scoped_cache(
        brute_force_topk(vectors, queries, k=k, id_col=id_col,
                         vec_col=vec_col).select("qid", "nid")
    )
    n_expected = truth.count()
    denom = queries.count() * (vectors.count() - 1)
    if n_expected == 0 or denom <= 0:
        # the ppm columns divide by these driver-side literals; under
        # non-ANSI Spark `div 0` is NULL, so an empty query set or a
        # <2-vector corpus would emit a full grid of NULL-recall rows —
        # a silently meaningless audit. Raise like the other
        # empty-input guards (the live PQ view, write_codelen_model).
        raise ValueError(
            "pq_operating_curve: empty query set or <2 corpus "
            f"vectors (n_expected={n_expected}, denom={denom}) — the "
            "recall/scanned ppm columns would be NULL"
        )
    rmax = max(refine_list)
    plist = sorted(set(probes_list))
    rlist = sorted(set(refine_list))
    qv = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    ranked = scoped_cache(
        _probe_ranks(
            _pq_candidates(
                index, queries, quantizer, codebooks, max(plist), id_col,
                vec_col, adc_agg,
            ),
            plist,
        )
    )

    # integer stats for every grid cell in one aggregate (a candidate
    # at probes p is prn<p; its ADC rank there is __r{p})
    # coalesce (r13 ADVICE): on an EMPTY candidate frame the global agg
    # emits one all-NULL row; the pre-r13 per-cell count(*) path emitted
    # 0s — keep that contract for degenerate inputs
    aggs = []
    for p in plist:
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("prn") < p, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias(f"__cand{p}")
        )
        for r in rlist:
            aggs.append(
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("prn") < p) & (F.col(f"__r{p}") <= r), 1
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias(f"__rr{p}_{r}")
            )
    stack_cells = ", ".join(
        f"{p}, {r}, __cand{p}, __rr{p}_{r}" for p in plist for r in rlist
    )
    grid = ranked.agg(*aggs).selectExpr(
        f"stack({len(plist) * len(rlist)}, {stack_cells}) AS "
        "(probes, refine, n_candidates, rerank_rows)"
    )

    # exact rerank: ONE shortlist (per-probes ADC rank ≤ max refine),
    # one raw-vector fetch, one rerank window ranking every refine
    # depth, one truth join — identical per-cell rows to the per-cell
    # row_number/filter chain because arank ≤ r slices share the
    # (sim DESC, nid ASC) total order
    short = (
        ranked.select(
            "qid",
            "nid",
            F.explode(
                F.array(
                    *[
                        F.when(
                            (F.col("prn") < p)
                            & (F.col(f"__r{p}") <= rmax),
                            F.struct(
                                F.lit(p).cast("int").alias("probes"),
                                F.col(f"__r{p}").alias("arank"),
                            ),
                        )
                        for p in plist
                    ]
                )
            ).alias("__pr"),
        )
        .filter(F.col("__pr").isNotNull())
        .select("qid", "nid", "__pr.probes", "__pr.arank")
    )
    nv = vectors.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
    ).join(short.select("nid").distinct(), "nid", "left_semi")
    sims = (
        short.join(F.broadcast(qv), "qid")
        .join(nv, "nid")
        .select(
            "probes", "qid", "nid", "arank",
            cosine(F.col("qvec"), F.col("nvec")).alias("sim"),
        )
    )
    w2 = (
        Window.partitionBy("probes", "qid")
        .orderBy(F.desc("sim"), F.asc("nid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    refd = sims.select(
        "probes",
        "qid",
        "nid",
        "arank",
        *[
            F.sum(F.when(F.col("arank") <= r, 1).otherwise(0))
            .over(w2)
            .alias(f"__s{r}")
            for r in rlist
        ],
    )
    topk_long = (
        refd.select(
            "probes",
            "qid",
            "nid",
            F.explode(
                F.array(
                    *[
                        F.when(
                            (F.col("arank") <= r) & (F.col(f"__s{r}") <= k),
                            F.lit(r),
                        ).cast("int")
                        for r in rlist
                    ]
                )
            ).alias("refine"),
        )
        .filter(F.col("refine").isNotNull())
    )
    hits = (
        topk_long.join(truth, ["qid", "nid"])
        .groupBy("probes", "refine")
        .agg(F.count("*").cast("long").alias("hits"))
    )
    return (
        grid.join(hits, ["probes", "refine"], "left")
        .select(
            "probes",
            "refine",
            "n_candidates",
            F.expr(
                f"CAST((1000000 * n_candidates) div {denom} AS BIGINT)"
            ).alias("scanned_ppm"),
            "rerank_rows",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.expr(
                f"CAST((1000000 * coalesce(hits, 0)) div {n_expected} "
                "AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("probes", "refine")
    )

"""Iterative k-means over embedding columns — the trained coarse
quantizer for ANN search (functions.similarity.coarse_topk and the PQ
index, as `[centroids]` or one codebook per IMI half).

Lloyd's algorithm as pure DataFrame ops per iteration:
  assign: nearest centroid per vector (literal-folded centroid arrays —
          a scan-side map, no shuffle)
  update: mean per (cluster, dim) via posexplode + one hash-agg shuffle
The driver loop holds only the k×d centroid matrix (tiny); data never
leaves executors. At 100 TB each iteration is one scan + one shuffle of
k·d partial sums — the canonical scalable k-means shape. Convergence on
centroid movement is checked driver-side per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bearysta_spark.functions.similarity import nearest_cells


def _f(x: float) -> str:
    """A double literal as SQL text, exact round-trip: repr() is the
    shortest decimal that parses back to the identical IEEE double."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _dot_sql(sub: str, coeffs) -> str:
    """SQL text of similarity.dot(sub, array(<literals>)) — the same
    zip_with+aggregate fold Catalyst builds from the Column DSL, so the
    result is bit-identical; generating it as ONE parsed string instead
    of thousands of py4j Column calls is what makes iterative literal-
    fold training cheap driver-side (measured: DSL construction of one
    joint-PQ iteration's expression tree cost ~5 s per iteration —
    more than the cluster spent executing it)."""
    vals = ", ".join(_f(x) for x in coeffs)
    return (
        f"aggregate(zip_with({sub}, array({vals}), "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"{_f(0.0)}, (acc, x) -> acc + x)"
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    max_iters: int = 10,
    vec_col: str = "embedding",
    tol: float = 1e-4,
    seed: int = 42,
    init: list[list[float]] | None = None,
) -> list[list[float]]:
    """Train k centroids; returns the centroid matrix (k × d) ready to
    pass to similarity.coarse_topk as `[centroids]`. Deterministic: seeded init from
    normalized Gaussian vectors, fixed iteration order. Pass `init`
    to start from explicit centroids instead (e.g. the seeded IMI
    half-space books, so a trained coarse quantizer shares provenance
    with its untrained form); k is then taken from it."""
    import numpy as np

    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("kmeans_fit: empty input")
    dim = len(first[0])

    if init is not None:
        centroids = np.asarray(init, dtype=np.float64)
        if centroids.shape[1] != dim:
            raise ValueError(
                f"kmeans_fit: init dim {centroids.shape[1]} != data dim {dim}"
            )
        k = len(centroids)
    else:
        rng = np.random.default_rng(seed)
        centroids = rng.standard_normal((k, dim))
        centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)

    for _ in range(max_iters):
        assigned = df.select(
            F.col(vec_col),
            nearest_cells(F.col(vec_col), centroids.tolist(), 1)[0].alias("cell"),
        )
        # DECIMAL accumulation: the update means are then independent of
        # partition count / combine order — the same centroids come out
        # of a 2-executor run and a 2000-executor run (and a DuckDB
        # oracle can reproduce the iteration bit-for-bit)
        sums = (
            assigned.select("cell", F.posexplode(vec_col).alias("dim", "v"))
            .groupBy("cell", "dim")
            .agg(
                F.sum(F.col("v").cast("decimal(25,10)")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        new_centroids = centroids.copy()
        acc = {}
        for r in sums:
            acc.setdefault(r["cell"], {})[r["dim"]] = (r["s"], r["n"])
        for cell, dims in acc.items():
            vec = np.array([float(dims[d][0]) / dims[d][1] for d in sorted(dims)])
            new_centroids[cell] = vec
        shift = float(np.abs(new_centroids - centroids).max())
        centroids = new_centroids
        if shift < tol:
            break
    return centroids.tolist()


def kmeans_fit_multi(
    df: DataFrame,
    specs: list[tuple[int, int, list[list[float]]]],
    max_iters: int = 2,
    vec_col: str = "embedding",
    tol: float = 0.0,
) -> list[list[list[float]]]:
    """Train several INDEPENDENT k-means sub-problems over slices of
    one vector column in a single pass per iteration — the fused form
    of N sequential ``kmeans_fit(init=...)`` calls (r13 optimization:
    the residual-PQ audits train both IMI half-space quantizers over
    the same corpus, and sequential fits pay one scan + one shuffle +
    one collect barrier PER half PER iteration; fused, an iteration is
    ONE scan + ONE hash-agg shuffle of the concatenated partial sums +
    ONE collect regardless of how many sub-problems train).

    ``specs`` is ``[(start, length, init_centroids), ...]`` with
    1-based `start` (F.slice convention). Per-problem arithmetic is
    identical to ``kmeans_fit``: assignment via the literal-folded
    ``nearest_cells`` over the slice, DECIMAL-exact update means, and
    per-problem convergence on max centroid movement — the sub-sums
    are keyed by problem index, so the trained centroids are
    bit-identical to sequential fits and existing unrolled-SQL oracles
    replay unchanged. Returns one centroid matrix per spec."""
    import numpy as np

    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("kmeans_fit_multi: empty input")
    dim = len(first[0])
    cents: list[np.ndarray] = []
    for start, length, init in specs:
        if start < 1 or start + length - 1 > dim:
            raise ValueError(
                f"kmeans_fit_multi: slice ({start},{length}) outside "
                f"data dim {dim}"
            )
        c = np.asarray(init, dtype=np.float64)
        if c.shape[1] != length:
            raise ValueError(
                f"kmeans_fit_multi: init dim {c.shape[1]} != slice "
                f"length {length}"
            )
        cents.append(c.copy())

    # named sub-vector columns: each slice is referenced k+1 times per
    # iteration (k score folds + the carried `sub`) — project once
    proj = df.select(
        *[
            F.slice(F.col(vec_col), start, length).alias(f"__sub_{b}")
            for b, (start, length, _) in enumerate(specs)
        ]
    )
    live = set(range(len(specs)))
    for _ in range(max_iters):
        if not live:
            break
        order = sorted(live)
        entries = []
        for b in order:
            sub = f"__sub_{b}"
            # SQL text of nearest_cells(sub, cents[b], 1)[0]: identical
            # reverse-sorted (score, cell) struct pick, ties take the
            # HIGHER cell — built as one parsed string (see _dot_sql)
            pairs = ", ".join(
                f"named_struct('score', {_dot_sql(sub, c)}, 'cell', {i})"
                for i, c in enumerate(cents[b].tolist())
            )
            cell = (
                f"element_at(slice(reverse(array_sort(array({pairs}))), "
                "1, 1), 1).cell"
            )
            entries.append(
                f"named_struct('b', {b}, 'cell', {cell}, 'sub', {sub})"
            )
        sums = (
            proj.selectExpr(
                f"explode(array({', '.join(entries)})) AS e"
            )
            .select(
                "e.b", "e.cell", F.posexplode("e.sub").alias("dim", "v")
            )
            .groupBy("b", "cell", "dim")
            .agg(
                F.sum(F.col("v").cast("decimal(25,10)")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        acc: dict = {}
        for r in sums:
            acc.setdefault((r["b"], r["cell"]), {})[r["dim"]] = (
                r["s"],
                r["n"],
            )
        for b in order:
            new_c = cents[b].copy()
            for (bb, cell), dims in acc.items():
                if bb != b:
                    continue
                new_c[cell] = np.array(
                    [float(dims[d][0]) / dims[d][1] for d in sorted(dims)]
                )
            shift = float(np.abs(new_c - cents[b]).max())
            cents[b] = new_c
            if shift < tol:
                live.discard(b)
    return [c.tolist() for c in cents]


def assign_clusters(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Attach the nearest-centroid cluster id."""
    return df.withColumn(
        "cluster", nearest_cells(F.col(vec_col), centroids, 1)[0].cast("int")
    )


def pq_codebooks_fit(
    df: DataFrame,
    codebooks0: list[list[list[float]]],
    max_iters: int = 2,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train PQ sub-codebooks with per-subspace L2 k-means — FAISS
    ProductQuantizer::train, distributed: all m subspaces train JOINTLY
    in one frame (subspace index j is just another grouping key), so an
    iteration is ONE scan + ONE hash-agg shuffle of m·ksub·dsub partial
    sums regardless of m. Assignment is the L2 argmin in expanded form
    (argmax of <sub, c> − ||c||²/2; the sub² term is per-row constant)
    computed with LITERAL expression folds — sequential, IEEE-identical
    to DuckDB's list_dot_product, so the trained books replay
    bit-for-bit in an unrolled-SQL oracle (the kmeans_fit discipline).
    Updates are DECIMAL-exact means (partition-order-independent);
    empty (j, cell) pairs keep their previous centroid. Ties take the
    LOWEST cell id (struct-max over (score, −cell) — matches
    _residual_l2_codes' np.argmax-first and the oracle's ORDER BY
    score DESC, cell ASC). `codebooks0` is the seeded init
    (make_pq_codebooks), so trained and untrained geometry share one
    provenance. Driver state: the m×ksub×dsub codebook tensor — KB."""
    return pq_codebooks_fit_joint(
        df, [(codebooks0, None)], max_iters=max_iters, vec_col=vec_col
    )[0]


def pq_codebooks_fit_joint(
    df: DataFrame,
    specs: list[tuple[list[list[list[float]]], list[int] | None]],
    max_iters: int = 2,
    vec_col: str = "embedding",
) -> list[list[list[list[float]]]]:
    """Train several INDEPENDENT PQ codebook chains over one vector
    column in a single pass per iteration — the fused form of N
    sequential ``pq_codebooks_fit`` calls (r13 optimization: the OPQ
    audit trains identity-layout and permuted-layout books over the
    same residual frame, and sequential fits pay one scan + one
    shuffle + one collect barrier PER chain PER iteration; fused, an
    iteration is ONE of each for all chains — the chain index is just
    one more grouping key next to the subspace index j).

    ``specs`` is ``[(codebooks0, perm_or_None), ...]``; a non-None
    perm trains over the ``element_at``-permuted vector (the
    opq_roundrobin_perm layout — pure reordering, no arithmetic).
    Per-chain math is identical to ``pq_codebooks_fit`` (literal
    expression-fold argmax, DECIMAL-exact means, lowest-cell ties,
    empty cells keep their centroid), so the trained books are
    bit-identical to sequential fits and the unrolled-SQL oracles
    replay unchanged. Returns one trained chain per spec."""
    all_books = []
    for codebooks0, _ in specs:
        all_books.append(
            [[list(map(float, c)) for c in book] for book in codebooks0]
        )
    m = len(all_books[0])
    ksub = len(all_books[0][0])
    dsub = len(all_books[0][0][0])
    for books in all_books[1:]:
        if (
            len(books) != m
            or len(books[0]) != ksub
            or len(books[0][0]) != dsub
        ):
            raise ValueError(
                "pq_codebooks_fit_joint: all chains must share one "
                "(m, ksub, dsub) geometry"
            )

    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("pq_codebooks_fit: empty input")
    if len(first[0]) != m * dsub:
        # a mismatched width silently yields part-stale, part-garbage
        # books (short slices null-pad the fold, empty subs emit no
        # update rows) — the kmeans_fit init-dim guard, applied here
        raise ValueError(
            f"pq_codebooks_fit: vector dim {len(first[0])} != "
            f"m*dsub = {m}*{dsub} of codebooks0"
        )

    # Pre-project every (spec, j) sub-vector into its own named column
    # ONCE: the argmax fold references each sub-vector ksub+1 times
    # (ksub score structs + the carried `sub`), and the permuted-layout
    # vector is itself a 64-element element_at build — left inline,
    # interpreted HOF evaluation re-computes it inside every reference
    # (measured ~2x the whole fit's runtime). A named column is
    # evaluated once per row regardless of fan-out.
    sub_cols = []
    for s, (_, perm) in enumerate(specs):
        if perm is None:
            vec_s = vec_col
        else:
            if len(perm) != m * dsub:
                raise ValueError(
                    f"pq_codebooks_fit_joint: perm length {len(perm)} "
                    f"!= m*dsub = {m}*{dsub}"
                )
            elems = ", ".join(
                f"element_at({vec_col}, {int(p) + 1})" for p in perm
            )
            vec_s = f"array({elems})"
        for j in range(m):
            sub_cols.append(
                f"slice({vec_s}, {j * dsub + 1}, {dsub}) AS __sub_{s}_{j}"
            )
    proj = df.selectExpr(*sub_cols)

    for _ in range(max_iters):
        entries = []
        for s, books in enumerate(all_books):
            for j in range(m):
                # SQL text of the L2-expanded argmax (score = <sub,c> −
                # ||c||²/2, ties take the LOWEST cell via negcell max) —
                # identical expressions to the Column-DSL form, built as
                # one parsed string per iteration (see _dot_sql)
                sub = f"__sub_{s}_{j}"
                pairs = ", ".join(
                    "named_struct('score', "
                    f"({_dot_sql(sub, c)} - "
                    f"{_f(0.5 * sum(x * x for x in c))}), "
                    f"'negcell', {-cid})"
                    for cid, c in enumerate(books[j])
                )
                entries.append(
                    f"named_struct('sp', {s}, 'j', {j}, 'cell', "
                    f"(-array_max(array({pairs})).negcell), 'sub', {sub})"
                )
        sums = (
            proj.selectExpr(
                f"explode(array({', '.join(entries)})) AS e"
            )
            .select(
                "e.sp",
                "e.j",
                "e.cell",
                F.posexplode("e.sub").alias("dim", "v"),
            )
            .groupBy("sp", "j", "cell", "dim")
            .agg(
                F.sum(F.col("v").cast("decimal(25,10)")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        acc: dict = {}
        for r in sums:
            acc.setdefault((r["sp"], r["j"], r["cell"]), {})[r["dim"]] = (
                r["s"],
                r["n"],
            )
        for (s, j, cell), dims in acc.items():
            all_books[s][j][cell] = [
                float(dims[d][0]) / dims[d][1] for d in sorted(dims)
            ]
    return all_books

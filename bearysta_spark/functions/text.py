"""Text-analysis columns: tokenization, quality scoring, language ID,
document fingerprinting.

All JVM-side expressions (split / regexp / md5 / hash built-ins) — no
Python in the hot path, so these run inside whole-stage codegen and
scale linearly with input bytes. Patterns stick to character classes
(`[a-z0-9]`) that mean the same thing in Java regex (Spark) and RE2/PCRE
(DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bearysta_spark.cachescope import scoped_cache

TOKEN_PATTERN = "[A-Za-z0-9]+"

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately simple + deterministic: real corpora would ship
# fastText-style models behind a Pandas UDF.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "y", "es"],
}


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def word_count(text: str | Column) -> Column:
    """Whitespace token count (split on single spaces, keeping empties —
    identical to DuckDB string_split semantics)."""
    return F.size(F.split(_col(text), " ")).cast("long")


def token_count(text: str | Column, pattern: str = TOKEN_PATTERN) -> Column:
    """BPE-ish regex token count: alphanumeric runs."""
    return F.size(F.regexp_extract_all(_col(text), F.lit(pattern), 0)).cast("long")


def alpha_ratio(text: str | Column) -> Column:
    """Fraction of characters that are lowercase letters or spaces — a
    cheap punctuation/noise quality signal."""
    t = _col(text)
    clean = F.length(F.regexp_replace(t, "[^a-z ]", ""))
    return (clean / F.length(t)).cast("double")


def quality_score(text: str | Column) -> Column:
    """Composite [0,1] quality score: alpha ratio damped by a
    degenerate-length penalty (too-short docs score low).

    Mirrors the shape of C4/Gopher-style quality filters (length +
    symbol-ratio rules) with fully-deterministic arithmetic.
    """
    t = _col(text)
    wc = word_count(t)
    len_penalty = F.least(wc.cast("double") / F.lit(20.0), F.lit(1.0))
    return (alpha_ratio(t) * len_penalty).cast("double")


def stopword_hits(text: str | Column, lang: str) -> Column:
    """Number of stopword types of `lang` present in the text."""
    t = F.concat(F.lit(" "), _col(text), F.lit(" "))
    hits = [F.when(t.contains(f" {w} "), 1).otherwise(0) for w in STOPWORDS[lang]]
    out = hits[0]
    for h in hits[1:]:
        out = out + h
    return out


def lang_id(text: str | Column) -> Column:
    """Stopword-vote language ID: the language with the most stopword
    types present wins; ties broken by fixed language order; no hits →
    'unk'. Deterministic and SQL-expressible for the oracle."""
    t = _col(text)
    scores = {l: stopword_hits(t, l) for l in STOPWORDS}
    best = None
    best_score = None
    for l in STOPWORDS:  # fixed order = deterministic tie-break
        s = scores[l]
        if best is None:
            best, best_score = F.lit(l), s
        else:
            cond = s > best_score
            best = F.when(cond, F.lit(l)).otherwise(best)
            best_score = F.when(cond, s).otherwise(best_score)
    return F.when(best_score > 0, best).otherwise(F.lit("unk"))


def ngrams(text: str | Column, n: int, pattern: str = "[a-z0-9]+") -> Column:
    """Array of space-joined word n-grams from the `pattern` tokens of
    `text` (empty array when the doc has fewer than n tokens). Pure
    JVM-side higher-order functions — explode-safe at 100 TB because the
    blow-up factor is bounded by tokens-per-doc, not corpus size."""
    a = F.regexp_extract_all(_col(text), F.lit(pattern), 0)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(a) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(a, i + j) for j in range(n)]
        ),
    )
    return F.when(F.size(a) >= n, grams).otherwise(F.array().cast("array<string>"))


def dup_ngram_stats(text: str | Column, n: int = 2) -> tuple[Column, Column]:
    """(total n-grams, duplicate n-grams) per document — the Gopher-style
    repetition signal: duplicate fraction = dup/total. Integer outputs so
    aggregation stays exact across engines.

    Column-level convenience for small/interactive use: array_distinct
    over a transform(...)-built array is an interpreted higher-order
    function. The corpus-scale path is queries.repetition_filter, which
    gets the same numbers from exploded grams in whole-stage codegen."""
    g = ngrams(text, n)
    total = F.size(g).cast("long")
    dup = (F.size(g) - F.size(F.array_distinct(g))).cast("long")
    return total, dup


def normalize_text(text: str | Column) -> Column:
    """Canonical dedup normalization (the C4/RefinedWeb pre-dedup step):
    lowercase, strip non-alphanumerics, collapse whitespace runs, trim.
    Exact dedup on the normalized form catches trivially-edited
    duplicates (case, punctuation, spacing) that byte-exact dedup
    misses. Pure codegen expressions; DuckDB spells the identical chain
    with regexp_replace(..., 'g')."""
    t = F.lower(_col(text))
    t = F.regexp_replace(t, "[^a-z0-9 ]", "")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


def fingerprint(text: str | Column) -> Column:
    """Deterministic 64-bit document fingerprint (xxhash64 of the
    whitespace-normalized text) — rolling-hash-style content identity for
    exact dedup at scale (8 bytes vs 16-byte md5; collision odds at even
    10^10 docs are ~1e-2 under birthday bound — use md5 when that
    matters)."""
    norm = F.regexp_replace(F.trim(_col(text)), "\\s+", " ")
    return F.xxhash64(norm)


def winnow_fingerprints(
    df, text_col: str = "text", id_col: str = "doc_id", k: int = 5, w: int = 4
):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every k-char gram, slide a window of w
    consecutive gram hashes, keep each window's minimum — guaranteeing
    any shared substring of length >= k + w - 1 contributes at least one
    common fingerprint between two documents, while storing ~1/w of the
    grams. Returns distinct (id_col, fp long) rows.

    Spark shape: position explode (codegen) → per-doc ordered window
    min over a w-row frame → distinct. The window partitions by doc, so
    state is bounded by document length — corpus-size independent. The
    gram hash is the low 60 bits of md5 (hex-slice → long), reproducible
    in any SQL engine: min(...) OVER (PARTITION BY doc ORDER BY pos
    ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING).
    """
    from pyspark.sql import Window

    from bearysta_spark.functions.dedup import _spread

    spread = _spread(df).filter(F.length(text_col) >= k + w - 1)
    p = spread.select(
        F.col(id_col),
        F.col(text_col),
        F.explode(
            F.sequence(F.lit(1), F.length(text_col) - F.lit(k - 1))
        ).alias("pos"),
    ).select(
        F.col(id_col),
        F.col("pos"),
        F.conv(
            F.substring(
                F.md5(F.col(text_col).substr(F.col("pos"), F.lit(k))), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    frame = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = (
        p.withColumn("m", F.min("h").over(frame))
        .withColumn("n_in", F.count("*").over(frame))
        .filter(F.col("n_in") == w)  # only complete windows fingerprint
    )
    return sel.select(id_col, F.col("m").alias("fp")).distinct()


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    pattern: str = "[a-z0-9]+",
) -> DataFrame:
    """BM25 relevance of every document to a bag-of-terms query, with a
    log-free idf.

    Keyword retrieval over a corpus is how training-data pipelines mine
    task-relevant documents (and how dedup teams spot-check clusters).
    Score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b + b·dl/avgdl)) with
    idf(t) = (N - df + 0.5)/(df + 0.5) — the Robertson idf minus the
    log. The log is rank-monotone per term, so dropping it changes
    inter-term weighting slightly but keeps every per-term ordering,
    and removes the one libm call that would make scores differ across
    engines in the last ulp.

    Scale shape (r05 single-pass rewrite): ONE token-explode scan
    builds the per-document norms frame — dl plus a conditional-sum tf
    column per query term (the term list is small and fixed, so the
    per-term counters are plain codegen aggregates) — and that
    doc-grain frame is cached: it is exactly the doc-norms table a BM25
    system persists, rows ∝ documents not tokens, spillable. The
    previous postings-first shape replayed the corpus token explode
    four times in the executed plan (dlen×2, tf, df). df and corpus
    stats remain tiny broadcast frames. Returns
    (id_col, bm25, n_terms_hit).
    """
    # dedupe, order-preserving: each list entry becomes its own tf
    # column below, so a repeated term would double its df (shrinking
    # idf) and double-count its score contribution
    terms = list(dict.fromkeys(terms))
    toks = docs.select(
        id_col,
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)
        ).alias("tok"),
    )
    per_doc = (
        toks.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("dl"),
            *[
                F.sum(F.when(F.col("tok") == t, 1).otherwise(0))
                .cast("long")
                .alias(f"__tf_{i}")
                for i, t in enumerate(terms)
            ],
        )
    )
    per_doc = scoped_cache(per_doc)
    dlen = per_doc.select(id_col, "dl")
    stats = docs.agg(F.count("*").cast("long").alias("n_docs"))
    avgdl = per_doc.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl")
    )
    tf = (
        per_doc.select(
            id_col,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tok"),
                            F.col(f"__tf_{i}").alias("tf"),
                        )
                        for i, t in enumerate(terms)
                    ]
                )
            ).alias("p"),
        )
        .select(id_col, "p.tok", "p.tf")
        .filter(F.col("tf") > 0)
    )
    df_tbl = tf.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    scored = (
        tf.join(F.broadcast(df_tbl), "tok")
        .join(dlen, id_col)
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(avgdl))
        .withColumn(
            "idf",
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5)),
        )
        .withColumn(
            "score_term",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(
            F.sum(F.col("score_term").cast("decimal(25,10)")).cast("double"), 6
        ).alias("bm25"),
        F.count("*").cast("long").alias("n_terms_hit"),
    )


def hashed_doc_vectors(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    word_ngrams: int = 1,
) -> DataFrame:
    """Feature-hashing (the hashing trick, Weinberger et al. 2009)
    document vectors in sparse long form: token t adds sign(t) to
    dimension h(t) mod dim, output (id, dim, weight) for non-zero
    dimensions.

    This is the text→vector bridge that needs no trained model and no
    vocabulary table: the dimension index and sign come from the
    token's md5 (engine-portable — the same '0x'||substr arithmetic the
    MinHash/CMS oracle paths use), so the whole op is one explode +
    one map-side-combinable sum, zero Python, zero broadcast. Feed the
    long form to cosine/ANN ops after densifying, or use it directly
    for sparse dot products via a (dim)-key equi-join. At 100 TB the
    shuffle carries ≤ dim rows per document regardless of text bytes.

    word_ngrams=2 adds adjacent-word bigram features ("w1 w2", one
    space — the fastText wordNgrams=2 default for quality filtering)
    into the SAME hashed space alongside the unigrams: interaction
    features a bag-of-words halfspace cannot express, at the cost of
    ~2× explode volume and denser collision load per bucket. Same
    md5 dimension/sign arithmetic per gram string, so the oracle
    replay is the same expression over the concatenated gram list.
    """
    from bearysta_spark.functions.tokenize import WORD_PATTERN, word_occurrences

    if word_ngrams not in (1, 2):
        raise ValueError(f"word_ngrams must be 1 or 2, got {word_ngrams}")
    if word_ngrams == 2:
        from bearysta_spark.functions.dedup import _spread

        pre = _spread(df).select(
            F.col(id_col),
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(WORD_PATTERN), 0
            ).alias("__ws"),
        )
        big = F.when(
            F.size("__ws") >= 2,
            F.expr(
                "transform(sequence(1, size(__ws) - 1),"
                " i -> concat_ws(' ', __ws[i-1], __ws[i]))"
            ),
        ).otherwise(F.array().cast("array<string>"))
        occ = pre.select(
            F.col(id_col),
            F.explode(F.concat(F.col("__ws"), big)).alias("word"),
        )
    else:
        occ = word_occurrences(df, text_col, id_col)
    h = F.conv(F.substring(F.md5(F.col("word")), 1, 15), 16, 10).cast("long")
    # sign from the 16th hex digit's parity — independent of the
    # dimension bits above it
    sign_digit = F.conv(F.substring(F.md5(F.col("word")), 16, 1), 16, 10).cast("int")
    sign = F.when(sign_digit % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    return (
        occ.select(
            F.col(id_col),
            F.pmod(h, F.lit(dim)).cast("int").alias("dim"),
            sign.alias("__s"),
        )
        .groupBy(id_col, "dim")
        .agg(F.sum("__s").cast("long").alias("weight"))
        .filter(F.col("weight") != 0)
    )


def hashed_knn(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dim: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec: DataFrame | None = None,
) -> DataFrame:
    """Model-free text similarity search: cosine top-k over the
    feature-hashed document vectors — the hashing-trick retrieval
    baseline that needs no embeddings, no vocabulary and no trained
    model, just `dim` integer counters per document. Returns
    (qid, nid, sim, rank) for each query id.

    Engine-exactness: weights are integers, so the sparse dot product
    (Σ w_q·w_d over shared dims) and the squared norms are EXACT longs
    — order-independent under partial aggregation — and sim =
    dot/√(n2_q·n2_d) is one deterministic double per pair; ranking on
    (sim desc, nid) is therefore replayable by any engine.

    100 TB shape: the query side is a tiny broadcast (≤ dim rows per
    query), the corpus is scanned once into ≤ dim-rows-per-doc sparse
    form, the dot is a map-side-combinable sum keyed on (qid, nid), and
    only docs sharing ≥1 dimension with a query ever join — the
    candidate pruning falls out of the sparse representation."""
    # scoped cache (see cachescope): the sparse-vector frame feeds the
    # query side, the corpus side and the norms — uncached, the corpus
    # token explode would replay once per reference. Callers holding a
    # (id, dim, weight) frame already (e.g. sparse_knn_recall derives
    # one per dimension from a single cached token-count table) pass it
    # via `vec` and skip the corpus re-tokenization.
    if vec is None:
        vec = scoped_cache(hashed_doc_vectors(df, dim, text_col, id_col))
    q = vec.filter(F.col(id_col).isin([int(i) for i in query_ids])).select(
        F.col(id_col).alias("qid"),
        "dim",
        F.col("weight").alias("__wq"),
    )
    d = vec.select(
        F.col(id_col).alias("nid"), "dim", F.col("weight").alias("__wd")
    )
    dot = (
        F.broadcast(q)
        .join(d, "dim")
        .filter(F.col("qid") != F.col("nid"))
        .groupBy("qid", "nid")
        .agg(F.sum(F.col("__wq") * F.col("__wd")).cast("long").alias("__dot"))
    )
    n2 = vec.groupBy(id_col).agg(
        F.sum(F.col("weight") * F.col("weight")).cast("long").alias("__n2")
    )
    scored = (
        dot.join(n2.withColumnsRenamed({id_col: "qid", "__n2": "__nq"}), "qid")
        .join(n2.withColumnsRenamed({id_col: "nid", "__n2": "__nd"}), "nid")
        .withColumn(
            "sim",
            # cast EACH norm before multiplying: the long product
            # overflows int64 for multi-MB docs (n2 ~ 4e9 each); the
            # double product is identical where both fit and correct
            # where they don't
            F.col("__dot").cast("double")
            / F.sqrt(F.col("__nq").cast("double") * F.col("__nd").cast("double")),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "nid", "sim", "rank")
    )


def token_hash_dim_sign(word: str, dim: int) -> tuple[int, int]:
    """The (dimension, sign) the hashing trick assigns to a token —
    the driver-side twin of the md5 arithmetic in hashed_doc_vectors,
    byte-for-byte: dim = first 15 hex digits mod dim, sign = parity of
    the 16th. Used to fold external per-token weights into the hashed
    space so a file-loaded model scores documents identically to one
    trained directly in it."""
    import hashlib

    hx = hashlib.md5(word.encode("utf-8")).hexdigest()
    return int(hx[:15], 16) % dim, 1 if int(hx[15], 16) % 2 == 0 else -1


def load_fasttext_weights(
    path: str, dim: int = 64, component: int = 0
) -> list[int]:
    """Load per-token linear-classifier weights from a public
    fastText-style text file and fold them into the hashed feature
    space of classifier_margins (r06 VERDICT ask #5 — the classifier
    analogue of tokenize.load_gpt2_merges).

    Accepted format, the ``.vec``/supervised-dump shape the fastText
    CLI emits: an optional ``n d`` count header, then one
    ``token w1 [w2 ...]`` line per token; `component` picks which
    weight column to use (0 = the first, the binary-classifier
    margin direction). Plain two-column ``token weight`` lexicons are
    the degenerate case.

    Folding: weights_milli[h(t)] += sign(t) * round(w_t * 1000) with
    the exact hash/sign of hashed_doc_vectors, so
    margin(doc) = Σ_t count_t·w_t up to the usual unbiased
    hashing-collision noise — signed hashing makes collision cross
    terms zero-mean (Weinberger et al. 2009). The result plugs
    straight into classifier_margins(weights_milli=...), keeping the
    fixed-point exactness contract."""
    out = [0] * dim
    with open(path, encoding="utf-8") as f:
        for lineno, line in enumerate(f):
            parts = line.split()
            if not parts:
                continue
            if (
                lineno == 0
                and len(parts) == 2
                and all(p.lstrip("-").isdigit() for p in parts)
            ):
                continue  # 'n d' count header
            token, vals = parts[0], parts[1:]
            if component >= len(vals):
                raise ValueError(
                    f"{path}:{lineno + 1}: token {token!r} has "
                    f"{len(vals)} weight columns, need component "
                    f"{component}"
                )
            j, sign = token_hash_dim_sign(token, dim)
            out[j] += sign * round(float(vals[component]) * 1000)
    return out


def classifier_margins(
    df: DataFrame,
    weights_milli: list[int],
    bias_milli: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    word_ngrams: int = 1,
) -> DataFrame:
    """Linear quality classifier over feature-hashed document vectors —
    the fastText-style quality-filter shape (a trained linear model over
    hashed bag-of-words features) that real pretraining pipelines run to
    keep/drop documents at scale.

    Weights are FIXED-POINT milli-units (len(weights_milli) defines the
    hashed dimension): the margin is an exact integer sum
    Σ weight(id,dim)·w[dim] + bias — order-independent across partial
    aggregations and replayable by any engine, where a double dot
    product drifts in the last ulp with partition layout. Real model
    weights quantize to 1e-3 without moving the decision boundary
    meaningfully; callers needing full floats can divide downstream.
    Returns (id, margin_milli long, score double) with
    score = sigmoid(margin_milli/1000) for human-readable ranking (the
    sigmoid is monotone, so thresholding margin_milli ≥ τ·1000 is the
    engine-exact form of score ≥ sigmoid(τ)).

    100 TB shape: hashed_doc_vectors is one explode + map-side-combined
    sum (≤ dim rows per doc); the weight lookup is element_at on a
    broadcast literal array — no join, no Python — and the margin is a
    second map-side-combinable sum on the doc key. Documents with no
    [a-z0-9] token have no sparse rows and are absent from the output
    (score them sigmoid(bias) via a left join if required).
    """
    dim = len(weights_milli)
    vec = hashed_doc_vectors(df, dim, text_col, id_col, word_ngrams)
    w = F.element_at(
        F.lit([int(x) for x in weights_milli]), F.col("dim") + 1
    ).cast("long")
    per = vec.groupBy(id_col).agg(
        (F.sum(F.col("weight") * w) + F.lit(int(bias_milli)))
        .cast("long")
        .alias("margin_milli")
    )
    return per.select(
        id_col,
        "margin_milli",
        (
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-F.col("margin_milli").cast("double") / 1000.0))
        ).alias("score"),
    )


def classifier_train(
    df: DataFrame,
    label_col: str,
    dim: int = 256,
    rounds: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    word_ngrams: int = 1,
) -> list[tuple[int, int, list[int]]]:
    """Distributed TRAINING of the fastText-style linear quality
    classifier that classifier_margins serves — the classifier twin of
    the tokenizer-training pair (bpe_train / unigram_train): the repo
    could APPLY a hashed-feature linear model (external .vec weights or
    embedded constants) but never learn one from the corpus.

    Algorithm: ANNEALED batch perceptron over the feature-hashed
    document vectors, exact-integer end to end (no learning-rate
    float, no sigmoid — the fixed-point house rule):

    - x_i = hashed_doc_vectors(df, dim) sparse integer counts
      (signed hashing, Weinberger et al. 2009); y_i = `label_col`
      (must be +1/-1). Documents with no [a-z0-9] token have no sparse
      rows and are outside the training set (consistent with
      classifier_margins' serving contract).
    - round r: margin_i = Σ_d x_i[d]·w[d] (integer); batch
      subgradient g[d] = Σ_{i: y_i·margin_i <= 0} y_i·x_i[d] — an
      order-independent integer aggregate (a per-sample perceptron is
      sequential by definition and would not distribute); update
      w[d] += g[d] >> (r-1). The geometric annealing is what makes
      the BATCH variant converge: the raw full-batch step overshoots
      the boundary and oscillates between the all-positive and
      all-negative regimes every round (measured: n_mis ping-ponged
      233<->267 forever on a balanced label), while the halved step
      refines — and arithmetic right shift IS floor(g/2^r) for
      negative g in BOTH engines (Spark shiftright = Java >>; DuckDB
      >> verified arithmetic), where integer division would NOT be
      (DuckDB // truncates toward zero: -7//2 = -3).

    Returns [(round, n_misclassified, weights_after), ...] for rounds
    1..`rounds` — the training curve plus every intermediate model;
    the FINAL weights plug directly into classifier_margins.

    100 TB shape: the sparse vectors + labels are scratch-materialized
    ONCE (one corpus scan); each round is two narrow integer
    aggregates over that table (margin agg at doc grain with the
    weight literal via element_at — no join — then the misclassified
    semi-join re-aggregated at dim grain) plus a doc-grain count, all
    map-side combinable; model state is `dim` driver-side ints and the
    plan stays constant-size across rounds (weights re-enter as a
    literal). Overflow bound: |margin| <= dim·max|w|·max|x| must stay
    under int64 — at ~1e12-token corpora train on a bounded sample
    (functions.sampling) as production quality-classifier pipelines do
    anyway."""
    from bearysta_spark.scratch import cleanup, materialize_distributed

    vec = hashed_doc_vectors(df, dim, text_col, id_col, word_ngrams)
    sparse = materialize_distributed(
        vec.join(
            df.select(
                F.col(id_col), F.col(label_col).cast("long").alias("__y")
            ),
            id_col,
        ),
        "clftrain",
    )
    w = [0] * dim
    history: list[tuple[int, int, list[int]]] = []
    for r in range(1, int(rounds) + 1):
        wcol = F.element_at(F.lit([int(x) for x in w]), F.col("dim") + 1)
        per = sparse.groupBy(id_col).agg(
            F.sum(F.col("weight") * wcol.cast("long")).alias("__m"),
            F.first("__y").alias("__y"),
        )
        mis = per.filter(F.col("__y") * F.col("__m") <= 0).select(
            id_col, "__y"
        )
        # r14 round fusion (guide §1.2 fewer barriers): n_mis used to be
        # its own count() job, so the doc-grain margin aggregate ran
        # twice per round (once under the count, once as the grad
        # join's mis side). One job now returns the dim-grain gradient
        # rows PLUS a dim=-1 sentinel row carrying count(*) over the
        # doc-grain mis frame — no distinct expansion, both aggregates
        # stay map-side combinable (the r13-rejected rollup variant
        # needed count_distinct; this one counts an already-doc-grain
        # frame), and the mis subtree's exchange is shared between the
        # two branches by ReuseExchange. Hashed dims are 0..dim-1, so
        # the sentinel key cannot collide.
        grad_rows = (
            sparse.drop("__y")
            .join(mis, id_col)
            .groupBy("dim")
            .agg(F.sum(F.col("weight") * F.col("__y")).alias("g"))
            .unionByName(
                mis.groupBy().agg(F.count("*").alias("g")).select(
                    F.lit(-1).cast("int").alias("dim"), "g"
                )
            )
            .collect()
        )
        n_mis = 0
        grad: dict[int, int] = {}
        for row in grad_rows:
            if row["dim"] == -1:
                n_mis = int(row["g"])
            else:
                grad[row["dim"]] = int(row["g"])
        w = [w[d] + (grad.get(d, 0) >> (r - 1)) for d in range(dim)]
        history.append((r, n_mis, list(w)))
    cleanup(sparse)
    return history


#: persisted classifier-model schema: one row per hashed dimension
CLASSIFIER_MODEL_SCHEMA = "dim int, w long"
#: marker file name (the drift model's atomic version-flip convention)
CLASSIFIER_META = "_current.json"


def write_classifier_model(
    spark,
    path: str,
    weights_milli: list[int],
    word_ngrams: int = 1,
    bias_milli: int = 0,
    label: str | None = None,
) -> dict:
    """Persist a trained quality-classifier model (classifier_train's
    final weights) — the train-once/serve-many artifact every other
    trained state in this repo already has (write_lsh_index,
    write_pq_index, write_codelen_model) and the classifier lacked:
    every serve/calibrate query retrained in-query. One (dim, w) row
    per hashed dimension, published ATOMICALLY with the drift model's
    versioned-marker protocol: rows land in a fresh v<k> subdir and
    the _current.json marker flips to it only after the row count is
    verified == dim, so a serving stream never reads a wiped or
    half-written model and a rebuild is picked up on the next
    micro-batch without restart. The superseded version dir is deleted
    deferred one rebuild cycle (the compaction-reclamation discipline).

    The marker carries the serving GEOMETRY — dim, word_ngrams,
    bias_milli — because mismatched serve geometry fails silently: a
    unigram serve under a bigram-trained model, or a dim-512 serve of
    dim-256 weights, misprices every document without erroring (the
    r11 geometry-guard lesson, ensure_layout's rationale).
    load_classifier_model validates it. Returns the marker dict."""
    from bearysta_spark.streaming.index import _read_json, _write_json

    dim = len(weights_milli)
    if word_ngrams not in (1, 2):
        raise ValueError(
            f"word_ngrams must be 1 or 2, got {word_ngrams} "
            "(hashed_doc_vectors' contract)"
        )
    cur = _read_json(path, CLASSIFIER_META, spark)
    version = (int(cur["version"]) + 1) if cur else 0
    vdir = f"{path}/v{version}"
    rows = [(d, int(w)) for d, w in enumerate(weights_milli)]
    # one parallelize slice, NOT createDataFrame(...).coalesce(1): the
    # default path splits the local rows into defaultParallelism pickled
    # slices and the coalesced single task then replays every slice
    # through a Python-worker round trip SERIALLY — measured 6-10 s for
    # 256 rows vs ~0.4 s for one slice (r14, guide §5 driver work)
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), CLASSIFIER_MODEL_SCHEMA
    ).write.mode("overwrite").parquet(vdir)
    n = spark.read.schema(CLASSIFIER_MODEL_SCHEMA).parquet(vdir).count()
    if n != dim:
        raise ValueError(
            f"classifier model write to {vdir} produced {n} rows, "
            f"expected dim={dim} — refusing to publish the marker"
        )
    meta = {
        "version": version,
        "dim": dim,
        "word_ngrams": int(word_ngrams),
        "bias_milli": int(bias_milli),
    }
    if label is not None:
        meta["label"] = label
    _write_json(path, CLASSIFIER_META, meta, spark)
    if version >= 2:  # deferred reclamation: keep v(k-1), drop v(k-2)
        from bearysta_spark.streaming.index import delete_dir

        delete_dir(spark, f"{path}/v{version - 2}")
    return meta


def load_classifier_model(
    spark,
    path: str,
    dim: int | None = None,
    word_ngrams: int | None = None,
) -> tuple[list[int], dict]:
    """Read back a persisted classifier model (write_classifier_model):
    returns (weights_milli, meta). Collecting the weight rows is
    bounded model state (dim longs), the same contract as
    classifier_train's driver-side weight vector. The geometry guard:
    pass the dim / word_ngrams the serving path will use and a
    mismatch raises — serving with the wrong gram stream or hashed
    width misprices every document silently (no join fails, no row is
    lost, the margins are just wrong). A missing model raises loudly
    (the drift monitor's never-create-state contract)."""
    from bearysta_spark.streaming.index import _read_json

    meta = _read_json(path, CLASSIFIER_META, spark)
    if meta is None:
        raise ValueError(
            f"no classifier model under {path} — train with "
            "classifier_train and publish with write_classifier_model "
            "first (serving never creates model state)"
        )
    if dim is not None and int(meta["dim"]) != dim:
        raise ValueError(
            f"classifier model at {path} has dim={meta['dim']}, caller "
            f"expects {dim} — serving in a different hashed width "
            "misprices every document silently"
        )
    if word_ngrams is not None and int(meta["word_ngrams"]) != word_ngrams:
        raise ValueError(
            f"classifier model at {path} was trained with word_ngrams="
            f"{meta['word_ngrams']}, caller would serve with "
            f"{word_ngrams} — a unigram serve under a bigram-trained "
            "model (or vice versa) misprices every document silently"
        )
    vdir = f"{path}/v{int(meta['version'])}"
    rows = (
        spark.read.schema(CLASSIFIER_MODEL_SCHEMA)
        .parquet(vdir)
        .collect()
    )
    w = [0] * int(meta["dim"])
    for r in rows:
        w[r["dim"]] = int(r["w"])
    return w, meta


def curation_gate_flags(
    df: DataFrame,
    text_col: str = "text",
    lang: str = "en",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """The pretrain_funnel_report gate block as a reusable frame — the
    language gate plus the integer-exact Gopher-style quality gates
    (>= 15 tokens; mean word length in [3.0, 4.8] by cross-multiply;
    duplicate word-2gram fraction <= 0.08 by cross-multiply), with the
    normalized-text dedup key. One regexp tokenization per row; the
    2-gram stats are array ops (no explode, no shuffle). Shared by the
    batch funnel query and the streaming curation ingest loop so the
    two cannot drift. Text is lowercased BEFORE tokenizing — the same
    convention as word_occurrences and scrub_repeated_spans — so
    mixed-case corpora don't split tokens at case boundaries ('The'
    must count as one token 'the', not the fragment 'he') and skew the
    token-count / word-length / dup-2gram gates.

    Returns (id_col, *keep, lang, tc, norm_key, lang_ok, q_ok) where
    tc is the token count (the funnel's per-stage token metric)."""
    ws = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0
    )
    pre = df.select(
        id_col,
        *keep,
        "lang",
        F.md5(normalize_text(text_col)).alias("norm_key"),
        ws.alias("__ws"),
    )
    g2arr = F.when(
        F.size("__ws") >= 2,
        F.expr(
            "transform(sequence(1, size(__ws) - 1),"
            " i -> concat_ws(' ', __ws[i-1], __ws[i]))"
        ),
    )
    return (
        pre.select(
            id_col,
            *keep,
            "lang",
            "norm_key",
            F.size("__ws").cast("long").alias("tc"),
            F.length(F.concat_ws("", "__ws")).cast("long").alias("nch"),
            # explicit NULL for < 2 tokens: size(NULL) is NULL under
            # ANSI (Spark 4 default) but -1 with ANSI off, which would
            # silently flip the coalesce(...) default below — spell the
            # condition instead of relying on the session config
            F.when(F.size("__ws") >= 2, F.size(g2arr))
            .cast("long").alias("g_total"),
            F.when(F.size("__ws") >= 2, F.size(F.array_distinct(g2arr)))
            .cast("long").alias("g_distinct"),
        )
        .select(
            id_col,
            *keep,
            "lang",
            "norm_key",
            "tc",
            (F.col("lang") == lang).alias("lang_ok"),
            (
                (F.col("tc") >= 15)
                & (10 * F.col("nch") >= 30 * F.col("tc"))
                & (10 * F.col("nch") <= 48 * F.col("tc"))
                & F.coalesce(
                    25 * (F.col("g_total") - F.col("g_distinct"))
                    <= 2 * F.col("g_total"),
                    F.lit(True),
                )
            ).alias("q_ok"),
        )
    )

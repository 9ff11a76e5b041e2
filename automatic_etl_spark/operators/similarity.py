"""Approximate-nearest-neighbor search over embedding columns
(SURVEY.md §7 Phase 7 — similarity search for training-data pipelines).

Two strategies:
- :func:`brute_force_topk` — exact cosine top-k. The query set is
  broadcast; the corpus never shuffles. O(N·Q·d), the correctness
  baseline and perfectly adequate when Q is small.
- :func:`lsh_bucketed_topk` — the scale path: sign-random-projection
  buckets (deterministic hyperplanes built from fixed index subsets)
  prune the corpus to same-bucket candidates before scoring. Recall
  trades against bucket count; at 100 TB the bucket column becomes the
  partition key so each query touches one partition.

Scores are rounded to 6 decimals and ranked with a pinned tiebreaker
(neighbor id) so results are stable across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from automatic_etl_spark.functions.quantize import qround

from automatic_etl_spark.functions import vectors as vec

# Deterministic "hyperplanes": plane j sums the elements at these
# 1-based positions; the sign of the sum is one bucket bit. Fixed
# index subsets keep the construction portable to plain SQL.
DEFAULT_PLANES: tuple[tuple[int, ...], ...] = (
    (1, 9, 17, 25, 33, 41, 49, 57),
    (2, 10, 18, 26, 34, 42, 50, 58),
    (3, 11, 19, 27, 35, 43, 51, 59),
)


def make_planes(
    n_planes: int, dim: int = 64, stride: int = 8
) -> tuple[tuple[int, ...], ...]:
    """Generalize DEFAULT_PLANES to ``n_planes`` disjoint index
    subsets: plane j sums positions (j+1, j+1+stride, ...) ≤ dim.

    This is the production knob for every sign-projection blocker:
    bucket count is 2^n_planes, so at corpus scale pick
    ``n_planes ≈ log2(N / target_bucket_size)`` — buckets ∝ N keeps
    per-bucket membership (and therefore the quadratic in-bucket pair
    term) CONSTANT as the corpus grows, which is what turns the
    blocked pair join linear (VERDICT r8 #5: pagerank's fixed 8
    buckets modeled ~quadratic pair growth under replication).
    Disjoint subsets need n_planes ≤ stride; more planes than that
    would require overlapping subsets, which correlate the sign bits
    (recall degrades silently) — fail loudly instead.
    ``make_planes(3)`` == DEFAULT_PLANES.
    """
    if not 1 <= n_planes <= stride:
        raise ValueError(
            f"n_planes must be in [1, {stride}] for disjoint "
            f"stride-{stride} subsets, got {n_planes}"
        )
    return tuple(
        tuple(range(j + 1, dim + 1, stride)) for j in range(n_planes)
    )


def projection_bucket(
    v: Column, planes: tuple[tuple[int, ...], ...] = DEFAULT_PLANES
) -> Column:
    """Concatenated sign bits of the plane projections, e.g. '101'."""
    bits = []
    for plane in planes:
        proj = F.element_at(v, plane[0])
        for idx in plane[1:]:
            proj = proj + F.element_at(v, idx)
        bits.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _with_norm(df: DataFrame, vec_col: str, nrm_col: str) -> DataFrame:
    """Attach a precomputed L2 norm column (idempotent). One fold per
    ROW here instead of one per PAIR inside the score expression —
    see vectors.cosine_given_norms for the value-identity argument."""
    if nrm_col in df.columns:
        return df
    return df.withColumn(nrm_col, vec.norm(vec_col))


def _score_pairs(joined: DataFrame) -> DataFrame:
    """Self-exclusion + the ONE floor-quantized-cosine score projection shared
    by the brute-force, LSH-bucketed, and IVF paths — ann_recall_report
    assumes truth and approx rank identical quantized values, which only
    holds while all three score through this single definition.
    Expects ``q_nrm``/``n_nrm`` precomputed on the join inputs (r14:
    norms once per row, not per pair; the quantized score is
    bit-identical)."""
    return joined.filter(F.col("q_id") != F.col("n_id")).select(
        "q_id",
        "n_id",
        qround(
            vec.cosine_given_norms("q_vec", "n_vec", "q_nrm", "n_nrm")
        ).alias("score"),
    )


def _scored(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    return _score_pairs(queries.crossJoin(corpus))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def prepare(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    role: str = "n",
) -> DataFrame:
    return embeddings.select(
        F.col(id_col).alias(f"{role}_id"),
        vec.to_double_array(vec_col).alias(f"{role}_vec"),
    )


def brute_force_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k: (q_id, n_id, score, rank). Queries are broadcast —
    the corpus side never shuffles until the final per-query top-k."""
    return _topk(
        _scored(
            F.broadcast(_with_norm(queries, "q_vec", "q_nrm")),
            _with_norm(embeddings, "n_vec", "n_nrm"),
        ),
        k,
    )


def lsh_bucketed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: tuple[tuple[int, ...], ...] = DEFAULT_PLANES,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's
    sign-projection bucket."""
    corpus_b = _with_norm(embeddings, "n_vec", "n_nrm").withColumn(
        "bucket", projection_bucket(F.col("n_vec"), planes)
    )
    queries_b = _with_norm(queries, "q_vec", "q_nrm").withColumn(
        "bucket", projection_bucket(F.col("q_vec"), planes)
    )
    joined = corpus_b.join(F.broadcast(queries_b), "bucket")
    return _topk(_score_pairs(joined), k)


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.35,
    planes: tuple[tuple[int, ...], ...] = DEFAULT_PLANES,
    max_bucket_size: int | None = None,
    on_drop=None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: block on the
    sign-projection bucket, score in-bucket pairs, keep
    ``score >= threshold`` → (a_id, b_id, score).

    Input is a :func:`prepare`-shaped frame (``n_id``, ``n_vec``).
    The bucket join replaces the quadratic all-pairs cross join with
    per-bucket pair generation — the same blocking policy as the text
    MinHash-LSH dedup (operators/text_dedup.py). Scale notes: both
    sides shuffle once on the bucket key; with B planes there are 2^B
    buckets, so at cluster scale use ≥16 planes AND set
    ``max_bucket_size`` — buckets with more members are dropped before
    the pair join (bounding the quadratic term) and their count is
    reported through ``on_drop``, never silently.
    """
    from automatic_etl_spark.operators.text_dedup import cap_buckets

    b = _with_norm(corpus, "n_vec", "n_nrm").withColumn(
        "bucket", projection_bucket(F.col("n_vec"), planes)
    )
    if max_bucket_size is not None:
        b = cap_buckets(b, ["bucket"], max_bucket_size, on_drop)
    left = b.select(
        F.col("n_id").alias("a_id"), F.col("n_vec").alias("a_vec"),
        F.col("n_nrm").alias("a_nrm"), "bucket",
    )
    right = b.select(
        F.col("n_id").alias("b_id"), F.col("n_vec").alias("b_vec"),
        F.col("n_nrm").alias("b_nrm"), "bucket",
    )
    return (
        left.join(right, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            qround(
                vec.cosine_given_norms("a_vec", "b_vec", "a_nrm", "b_nrm")
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def ivf_assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF coarse quantization: assign every corpus vector to its
    nearest centroid (argmax cosine, ties → smallest centroid id) →
    (n_id, list_id, n_vec, n_nrm).

    Centroids are broadcast; the argmax is ONE groupBy with map-side
    partial ``max(struct(score, -c_id, n_vec))`` — no window shuffle
    over the N×C scored pairs. ``-c_id`` is unique per centroid so the
    struct comparison never reaches the vector payload. Norms are
    computed once per ROW below the cross join (r14: the score fold
    per (vector, centroid) pair is now one dot, not dot + two norms;
    bit-identical per vectors.cosine_given_norms) and the corpus norm
    rides the struct — appended LAST, behind the unique ``neg_c``, so
    the max comparison still never reaches it — making it free for
    downstream pair scorers (semdedup, ivf_topk).
    """
    corpus = _with_norm(corpus, "n_vec", "n_nrm")
    centroids = _with_norm(centroids, "c_vec", "c_nrm")
    scored = corpus.crossJoin(F.broadcast(centroids)).select(
        "n_id",
        "n_vec",
        vec.cosine_given_norms("n_vec", "c_vec", "n_nrm", "c_nrm").alias(
            "cscore"
        ),
        (-F.col("c_id")).alias("neg_c"),
        "n_nrm",
    )
    best = scored.groupBy("n_id").agg(
        F.max(F.struct("cscore", "neg_c", "n_vec", "n_nrm")).alias("m")
    )
    return best.select(
        "n_id",
        (-F.col("m.neg_c")).alias("list_id"),
        F.col("m.n_vec").alias("n_vec"),
        F.col("m.n_nrm").alias("n_nrm"),
    )


def _dim_sums(inverted: DataFrame) -> DataFrame:
    """(list_id, pos, s, c): per-list per-dimension exact decimal sums
    — the ONE numeric contract of the k-means update, shared by
    mean_centroid_stats and mean_centroids so a precision change
    cannot make kmeans_two_iter internally inconsistent.

    The posexplode + (list_id, pos)-keyed hash aggregate is the
    MEASURED winner (r15 interleaved A/B,
    bench_baselines/ab_dim_wide_r15.jsonl): a value-identical wide
    form — one groupBy(list_id) carrying 64 decimal-sum + 64 count
    buffers, unpivoted with stack, saving one exchange — ran **2×
    SLOWER** at sf0.1 (kmeans_two_iter 2.34→4.68 s median,
    ivf_mean_centroids 1.20→2.21 s) and only ~neutral at the 10×
    stress corpus (14.3→12.2 s median, min ≈equal): 128 per-row
    update expressions in one aggregate lose to the 64-row explode
    feeding a 2-expression hash aggregate, and the saved exchange
    carries only K×64 partial rows — noise at any scale."""
    ex = inverted.select(
        "list_id", F.posexplode("n_vec").alias("pos", "val")
    )
    return ex.groupBy("list_id", "pos").agg(
        F.sum(F.col("val").cast("decimal(28,12)")).alias("s"),
        F.count("*").alias("c"),
    )


def mean_centroid_stats(inverted: DataFrame) -> DataFrame:
    """The IVF training step: per-list mean centroid, computed as a
    distributed array aggregation — ``posexplode`` fans each vector
    into (list_id, pos, val) rows, a single groupBy produces exact
    per-dimension decimal sums (map-side partial agg collapses the
    64× row blow-up before the shuffle), and a second tiny groupBy
    folds dimensions into the centroid norm.

    Returns (list_id, n_members, centroid_norm) with the norm rounded
    at 1e-6 over exact decimal intermediates, so the result is
    identical under any partitioning (and to the DuckDB oracle).
    """
    dims = _dim_sums(inverted)
    mean = qround(F.col("s").cast("double") / F.col("c")).cast(
        "decimal(18,6)"
    )
    per_dim = dims.select("list_id", (mean * mean).alias("sq"), "c")
    return per_dim.groupBy("list_id").agg(
        F.max("c").alias("n_members"),
        qround(F.sqrt(F.sum("sq").cast("double"))).alias("centroid_norm"),
    )


def mean_centroids(inverted: DataFrame) -> DataFrame:
    """The k-means update as usable centroids: per-list, per-dimension
    exact decimal means (rounded at 1e-6 so both engines produce the
    identical double), reassembled into (c_id, c_vec) for the next
    ``ivf_assign`` iteration. Same shuffle shape as
    ``mean_centroid_stats``; the reassembly is a collect_list made
    deterministic by sorting on the dimension index."""
    dims = _dim_sums(inverted)
    m = qround(F.col("s").cast("double") / F.col("c"))
    return (
        dims.select("list_id", F.struct(F.col("pos"), m.alias("m")).alias("pm"))
        .groupBy("list_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("pm")), lambda s: s["m"]
            ).alias("c_vec")
        )
        .select(F.col("list_id").alias("c_id"), "c_vec")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are partitioned into
    centroid lists (:func:`ivf_assign`); each query probes its
    ``nprobe`` nearest lists and scores only those candidates.

    Scale notes (100 TB): the inverted index is written once,
    partitioned by ``list_id``; queries × nprobe is a tiny broadcast
    side, so serving touches only the probed partitions — the classic
    IVF pruning, expressed as partition pruning + broadcast join.
    Deterministic throughout: fixed centroids, pinned tiebreakers.
    """
    inverted = ivf_assign(corpus, centroids)  # carries n_nrm (r14)
    queries = _with_norm(queries, "q_vec", "q_nrm")
    centroids = _with_norm(centroids, "c_vec", "c_nrm")
    qscored = queries.crossJoin(F.broadcast(centroids)).select(
        "q_id", "q_vec", "q_nrm", "c_id",
        vec.cosine_given_norms("q_vec", "c_vec", "q_nrm", "c_nrm").alias(
            "cscore"
        ),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cscore"), F.asc("c_id"))
    probe = (
        qscored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "q_vec", "q_nrm", F.col("c_id").alias("list_id"))
    )
    cand = inverted.join(F.broadcast(probe), "list_id")
    return _topk(_score_pairs(cand), k)

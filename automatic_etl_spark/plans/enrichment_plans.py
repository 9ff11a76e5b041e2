"""Round-5 second pack: semantic/substring dedup, training-sequence
prep, entity resolution, graph centrality, robust statistics, and
warehouse time-travel lookups.

These extend the beyond-reference LLM-pipeline suite with the curation
stages published pipelines run that the earlier packs did not cover:

- ``semdedup_prune`` — SemDeDup (Abbas et al., 2023): k-means-style
  cluster assignment bounds the pairwise cosine term, then keep-min
  pruning inside each cluster. The published answer to "embedding
  near-dup at 100 TB without all-pairs".
- ``repeated_window_dedup`` — the Spark-shaped approximation of exact
  substring dedup (Lee et al., 2021): fixed-width token windows
  hashed and counted across documents. Suffix arrays don't
  distribute; W-token window fingerprints do (explode + groupBy).
- ``chunk_stride_stats`` — sliding-window chunking of documents into
  fixed-size training sequences with overlap (the tokenize-and-chunk
  step before sequence packing).
- ``fuzzy_match_recovery`` — entity resolution: normalize → block →
  score candidates with edit distance → pick argmin. The reference
  reconciles tables by exact keys (tools/verificar_datos.py row-count
  pairing); this is the fuzzy-key version of the same audit intent.
- ``pagerank_two_iter`` — two unrolled PageRank iterations over the
  embedding near-dup graph (the iterative-join pattern beside
  connected components; Spark's canonical Pregel example, expressed
  as DataFrame joins with exact decimal contribution sums).
- ``outlier_iqr_report`` / ``winsorize_stats`` — per-group robust
  outliers and winsorized means via PINNED type-1 (lower) quantiles
  (operators/quantiles.py): element selection, no interpolation, so
  both engines pick the identical double and the Tukey fences are
  bit-identical.
- ``bpe_merge_mining`` — step 1 of BPE tokenizer training: word-
  frequency-weighted adjacent-symbol pair counts, ranked over the
  bounded pair vocabulary.
- ``embedding_decontaminate`` — argmax cosine against a broadcast
  held-out eval set (the embedding-space sibling of
  ngram_decontaminate).
- ``time_gap_fill`` — dense date-spine zero fill for sparse per-group
  daily counts.
- ``scd2_point_in_time_join`` — facts joined to the SCD2 dimension
  version valid at fact time (half-open validity intervals).

Every float that crosses the engine boundary is either selected (not
computed), derived from identical IEEE arithmetic, or rounded at one
pinned site on both sides before any decimal cast (the
embedding_norm_stats precedent: round-then-cast at the SAME scale is
unambiguous; casting unrounded doubles is the decimal_fidelity trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automatic_etl_spark.functions import text as tx
from automatic_etl_spark.functions import vectors as vec
from automatic_etl_spark.operators import quantiles as qt
from automatic_etl_spark.operators.checkpoints import release
from automatic_etl_spark.operators import similarity as sim
from automatic_etl_spark.plans.registry import register
from automatic_etl_spark.plans.relational import qround
from automatic_etl_spark.plans.similarity_plans import (
    _SQL_ASSIGN,
    _sql_bucket,
    CENTROID_MOD,
    DEDUP_THRESHOLD,
)
from automatic_etl_spark.sources.parquet import table

# --- SemDeDup: cluster-then-prune semantic dedup -----------------------------
# Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication"): cluster embeddings with k-means,
# then compare pairs ONLY within a cluster and drop all but one of any
# cosine-near group. The cluster assignment bounds the quadratic term:
# at 100 TB you raise k so cluster sizes stay bounded (cross-cluster
# dups are missed by design — the published recall/cost tradeoff).
# Keep rule pinned to keep-min: a vector is pruned iff it matches a
# LOWER-id vector in its cluster (same survivor policy as W1/W4 and
# near_dup_canonical).

SEM_THRESHOLD = 0.35


@register(
    "semdedup_prune",
    oracle=f"""
        WITH {_SQL_ASSIGN},
        pairs AS (
            SELECT a.list_id, a.n_id AS a_id, b.n_id AS b_id
            FROM assign a JOIN assign b
              ON a.list_id = b.list_id AND a.n_id < b.n_id
            WHERE floor(list_dot_product(a.nv, b.nv)
                        / (sqrt(list_dot_product(a.nv, a.nv))
                           * sqrt(list_dot_product(b.nv, b.nv)))
                        * 1e6 + 0.5) / 1e6
                  >= {SEM_THRESHOLD}
        ),
        pruned AS (
            SELECT list_id, COUNT(DISTINCT b_id) AS n_pruned
            FROM pairs GROUP BY list_id
        ),
        members AS (
            SELECT list_id, COUNT(*) AS n_members FROM assign GROUP BY list_id
        )
        SELECT m.list_id, m.n_members,
               COALESCE(p.n_pruned, 0) AS n_pruned,
               m.n_members - COALESCE(p.n_pruned, 0) AS n_kept
        FROM members m LEFT JOIN pruned p USING (list_id)
    """,
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over ``embeddings``: IVF-style assignment to the fixed
    seed centroids (vec_id % 67 == 3), intra-cluster cosine pairs at
    threshold, keep-min pruning. Returns per-cluster
    (list_id, n_members, n_pruned, n_kept).

    Plan shape: one broadcast (centroids) + one argmax groupBy for the
    assignment, then a self-join keyed on list_id — the pair
    generation shuffles once on the cluster key and never crosses
    clusters. Reference parity: extends the keep-one-per-key dedup
    contract (tools/ingest_runner.py:1576-1588) to semantic keys.
    """
    emb = table(spark, sf_dir, "embeddings")
    corpus = sim.prepare(emb, role="n")
    centroids = sim.prepare(
        emb.filter(F.col("vec_id") % CENTROID_MOD == 3), role="c"
    )
    # Materialize the inverted index once — pairs-left, pairs-right and
    # the member counts all read it (3 lazy re-evaluations otherwise;
    # A/B: ~1.4x at sf0.1). At 100 TB this IS the design: write the
    # cluster assignment, then run the intra-cluster pair pass over it.
    inverted = sim.ivf_assign(corpus, centroids).localCheckpoint(eager=True)

    # n_nrm rides the checkpointed index from ivf_assign (r14): the
    # intra-cluster pair filter folds ONE dot per pair instead of
    # dot + two norms — bit-identical (vectors.cosine_given_norms).
    left = inverted.select(
        "list_id", F.col("n_id").alias("a_id"),
        F.col("n_vec").alias("a_vec"), F.col("n_nrm").alias("a_nrm"),
    )
    right = inverted.select(
        "list_id", F.col("n_id").alias("b_id"),
        F.col("n_vec").alias("b_vec"), F.col("n_nrm").alias("b_nrm"),
    )
    pairs = (
        left.join(right, "list_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            qround(
                vec.cosine_given_norms("a_vec", "b_vec", "a_nrm", "b_nrm")
            )
            >= SEM_THRESHOLD
        )
    )
    pruned = pairs.groupBy("list_id").agg(
        F.count_distinct("b_id").alias("n_pruned")
    )
    members = inverted.groupBy("list_id").agg(F.count("*").alias("n_members"))
    return (
        members.join(pruned, "list_id", "left")
        .select(
            "list_id",
            "n_members",
            F.coalesce("n_pruned", F.lit(0)).alias("n_pruned"),
            (F.col("n_members") - F.coalesce("n_pruned", F.lit(0))).alias(
                "n_kept"
            ),
        )
    )


# --- Repeated-window (substring-level) dedup ---------------------------------
# Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
# Better") dedups exact substrings of >= 50 tokens via suffix arrays.
# Suffix arrays don't distribute; the Spark-shaped equivalent is
# fixed-width token-window fingerprints: every W-token window, hashed,
# counted across documents — a window shared by >= 2 docs marks a
# duplicated span. One explode + two hash shuffles, both with map-side
# partial aggregation; boilerplate (hot windows) skews the gram key,
# which AQE skew-join handles on the count-join back.

WIN_W = 8  # fixture docs are 10-99 tokens; production would use ~50


@register(
    "repeated_window_dedup",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                               x -> x <> '') AS t
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(t) - {WIN_W - 1}),
                       i -> {" || ' ' || ".join(
                           f"t[i+{j}]" if j else "t[i]"
                           for j in range(WIN_W)
                       )}
                   )) AS g
            FROM toks
        ),
        gcnt AS (SELECT g, COUNT(*) AS docs_with FROM sh GROUP BY g),
        per_doc AS (
            SELECT sh.doc_id,
                   COUNT(*) AS n_windows,
                   COUNT(*) FILTER (WHERE gcnt.docs_with >= 2) AS n_shared
            FROM sh JOIN gcnt USING (g)
            GROUP BY sh.doc_id
        )
        SELECT doc_id, n_windows, n_shared,
               floor(CAST(n_shared AS DOUBLE) / n_windows * 1e6 + 0.5)
                   / 1e6 AS shared_frac
        FROM per_doc
    """,
)
def repeated_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span report over ``documents``: distinct
    W-token windows, windows shared with another document, and the
    shared fraction. Returns (doc_id, n_windows, n_shared,
    shared_frac); documents shorter than W tokens have no windows and
    do not appear."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # Materialize the exploded gram frame once — both the gram counts
    # and the join-back read it (A/B: 1.7x at sf0.1). The tempting
    # alternative (count() over Window.partitionBy("g"), single pass,
    # 1.9x) is REJECTED for scale: a hot boilerplate gram would become
    # one unsplittable window partition, while this shape keeps
    # map-side partial counts and lets AQE split the skewed join.
    ex = docs.select(
        "doc_id", F.explode(tx.shingles("text", WIN_W)).alias("g")
    ).localCheckpoint(eager=True)
    gcnt = ex.groupBy("g").agg(F.count("*").alias("docs_with"))
    per_doc = (
        ex.join(gcnt, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum((F.col("docs_with") >= 2).cast("long")).alias("n_shared"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_windows",
        "n_shared",
        qround(
            F.col("n_shared").cast("double") / F.col("n_windows")
        ).alias("shared_frac"),
    )


# --- Sliding-window chunking -------------------------------------------------
# The tokenize-and-chunk step before sequence packing: each document
# becomes ceil-ish many CHUNK-token training sequences starting every
# STRIDE tokens (overlap = CHUNK - STRIDE), the standard LM data-prep
# shape. Pure per-row array expressions — embarrassingly parallel, no
# shuffle until a downstream aggregation; integer arithmetic
# throughout, so the oracle is exact by construction.

CHUNK = 32
STRIDE = 24


@register(
    "chunk_stride_stats",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   len(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '')) AS n_tok
            FROM documents
        ),
        ch AS (
            SELECT doc_id, n_tok,
                   generate_series(1, n_tok, {STRIDE}) AS starts
            FROM toks WHERE n_tok >= 1
        )
        SELECT doc_id, n_tok,
               len(starts) AS n_chunks,
               CAST(list_sum(list_transform(
                   starts, s -> least({CHUNK}, n_tok - s + 1)
               )) AS BIGINT) AS chunk_tokens,
               floor(CAST(len(starts) * {CHUNK} - list_sum(list_transform(
                         starts, s -> least({CHUNK}, n_tok - s + 1)))
                     AS DOUBLE) / (len(starts) * {CHUNK})
                     * 1e6 + 0.5) / 1e6 AS pad_frac
        FROM ch
    """,
)
def chunk_stride_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking plan for ``documents``: starts every STRIDE tokens,
    chunks capped at CHUNK tokens, final partial chunk kept. Returns
    (doc_id, n_tok, n_chunks, chunk_tokens, pad_frac) where pad_frac
    is the padding waste if each chunk were padded to CHUNK."""
    docs = table(spark, sf_dir, "documents", fan_out=False).select(
        "doc_id", "text"
    )
    n_tok = tx.token_count("text")
    d = docs.select("doc_id", n_tok.alias("n_tok")).filter(
        F.col("n_tok") >= 1
    )
    starts = F.sequence(
        F.lit(1), F.col("n_tok"), F.lit(STRIDE)
    )
    lens = F.transform(
        starts, lambda s: F.least(F.lit(CHUNK), F.col("n_tok") - s + 1)
    )
    d = d.select(
        "doc_id",
        "n_tok",
        F.size(starts).alias("n_chunks"),
        F.aggregate(
            lens, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("chunk_tokens"),
    )
    return d.select(
        "doc_id",
        "n_tok",
        "n_chunks",
        "chunk_tokens",
        qround(
            (F.col("n_chunks") * CHUNK - F.col("chunk_tokens")).cast("double")
            / (F.col("n_chunks") * CHUNK)
        ).alias("pad_frac"),
    )


# --- Blocked fuzzy entity resolution -----------------------------------------
# Normalize → block → candidate-score → argmin: the classic record-
# linkage pipeline. A "dirty" feed of customer names is OCR-mangled
# deterministically — letter glyphs 'u'→'v' and 'm'→'rn' (a constant
# +3 edit distance for every record) plus the digit-glyph collision
# '7'→'1'. The letter damage is normalizable (blocking still works);
# the digit collision is NOT, so a record whose key contains a 7
# links to its 7s→1s "twin" (which always exists and wins by strict
# distance) — the classic OCR-collision failure mode, surfaced per
# row by ``is_correct``. Blocking bounds the candidate set (never
# all-pairs); at 100 TB the block key gets finer so block sizes stay
# bounded, and the candidate join shuffles once on it. Reference
# parity: the fuzzy-key version of the reconciliation audit
# (tools/verificar_datos.py row-count pairing intent).

_DIRTY_MOD = 7  # c_custkey % 7 == 0 → the dirty feed
_BLOCK_LEN = 15  # 'Customer#' + first 6 of 9 digits


@register(
    "fuzzy_match_recovery",
    oracle=f"""
        WITH dirty AS (
            SELECT c_custkey AS dirty_key,
                   replace(replace(c_name, 'Customer#', 'Cvstorner#'),
                           '7', '1') AS dirty_name
            FROM customer WHERE c_custkey % {_DIRTY_MOD} = 0
        ),
        blocked AS (
            SELECT dirty_key, dirty_name,
                   substr(replace(dirty_name, 'Cvstorner#', 'Customer#'),
                          1, {_BLOCK_LEN}) AS bk
            FROM dirty
        ),
        cand AS (
            SELECT b.dirty_key, b.dirty_name, c.c_custkey,
                   levenshtein(b.dirty_name, c.c_name) AS lev
            FROM blocked b JOIN customer c
              ON substr(c.c_name, 1, {_BLOCK_LEN}) = b.bk
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY dirty_key ORDER BY lev ASC, c_custkey ASC
            ) AS rn
            FROM cand
        )
        SELECT dirty_key, c_custkey AS matched_key, lev,
               CAST(dirty_key = c_custkey AS INT) AS is_correct
        FROM ranked WHERE rn = 1
    """,
)
def fuzzy_match_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution on ``customer``: the OCR-mangled feed
    ('u'→'v', 'm'→'rn', '7'→'1') is blocked on the normalized name
    prefix and matched to the master row with minimum levenshtein
    distance (ties → smallest key). Returns per dirty record
    (dirty_key, matched_key, lev, is_correct); keys containing the
    digit 7 deterministically mis-link to their 7s→1s twin."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    dirty = cust.filter(F.col("c_custkey") % _DIRTY_MOD == 0).select(
        F.col("c_custkey").alias("dirty_key"),
        F.expr(
            "replace(replace(c_name, 'Customer#', 'Cvstorner#'), '7', '1')"
        ).alias("dirty_name"),
    )
    blocked = dirty.withColumn(
        "bk",
        F.substring(
            F.expr("replace(dirty_name, 'Cvstorner#', 'Customer#')"),
            1,
            _BLOCK_LEN,
        ),
    )
    master = cust.withColumn("bk", F.substring("c_name", 1, _BLOCK_LEN))
    cand = blocked.join(master, "bk").select(
        "dirty_key",
        "c_custkey",
        F.levenshtein("dirty_name", "c_name").alias("lev"),
    )
    w = Window.partitionBy("dirty_key").orderBy(
        F.asc("lev"), F.asc("c_custkey")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "dirty_key",
            F.col("c_custkey").alias("matched_key"),
            "lev",
            (F.col("dirty_key") == F.col("c_custkey"))
            .cast("int")
            .alias("is_correct"),
        )
    )


# --- PageRank, two unrolled iterations ---------------------------------------
# The second iterative-graph operator beside connected components:
# r_{t+1}(v) = 0.15/N + 0.85 * sum_{u->v} r_t(u)/deg(u) over the
# symmetrized embedding near-dup graph (sign-projection-blocked cosine
# pairs at the embedding_cosine_dedup threshold — an irregular graph
# with real degree variance; the planted text dup-graph is
# rank-regular K2/K3s, which would collapse PageRank to two values).
# Dangling mass is NOT redistributed (the Spark-examples PageRank
# variant, pinned); isolated vectors keep the teleport term. Each
# iteration is one join (ranks onto edges) + one (dst)-keyed groupBy
# with map-side partial agg; per-edge contributions are quantized to
# integer nano-units via the pinned IEEE floor(x*1e9+0.5) expression
# and summed as BIGINT, so the sum is exact under any partitioning
# and identical across engines (native round(x,9) is not — r8).

_PR_DAMP = 0.85


def _pr_edges_iterate_ready(edges: DataFrame) -> DataFrame:
    """(src, dst, d): the symmetrized, DEGREE-ANNOTATED edge list,
    materialized once.

    Two steps, both r14-motivated. (1) Materialize the symmetrized
    edge list: the lazy subtree is otherwise re-evaluated by deg +
    both rank rounds (~6 edge builds — A/B measured 2.4x slower at
    sf0.1); same lineage-truncation policy as connected_components
    (operators/graph.py). (2) Attach each src's out-degree to the edge
    row at materialization time, so a rank iteration is ONE join
    (ranks onto edges) instead of the 3-way sym ⋈ ranks ⋈ deg — the
    deg groupBy+join used to re-run inside BOTH rank rounds. The
    iterate-ready (src, dst, d) table is the standard shape a
    production loop writes once and re-reads per iteration; the
    superseded bare-edge checkpoint is released immediately."""
    sym_bare = (
        edges.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionAll(
            edges.select(
                F.col("b_id").alias("src"), F.col("a_id").alias("dst")
            )
        )
        .localCheckpoint(eager=True)
    )
    deg = sym_bare.groupBy("src").agg(F.count("*").alias("d"))
    sym = sym_bare.join(deg, "src").localCheckpoint(eager=True)
    release(sym_bare)
    return sym


def _pr_iterate(ranks: DataFrame, sym: DataFrame) -> DataFrame:
    """One PageRank round without the teleport term:
    (node, r) -> (node, r') where r' = 0.85 * sum of in-contributions;
    the caller adds 0.15/N (it owns the broadcast N singleton).

    ``sym`` is the DEGREE-ANNOTATED symmetrized edge list
    (src, dst, d) — the caller attaches each source's out-degree to
    the edge row once, at materialization time (r14), so an iteration
    is ONE join (ranks onto edges) + one (dst)-keyed groupBy instead
    of a 3-way join: the per-iteration deg groupBy + join that used to
    run twice per action now runs once total. The contribution
    expression is unchanged — same r, same d, same division per
    (edge, rank) — so the result is bit-identical.

    Per-edge contributions are quantized to integer NANO-units with
    the pinned IEEE expression floor(x*1e9 + 0.5) — NOT round(x, 9):
    native round on a double diverges between engines when the scaled
    value straddles a half-unit representation boundary (Spark rounds
    the exact binary value, DuckDB the 1e9-scaled double; the r8 10×
    sweep caught exactly that, the LM-score class). floor of the same
    IEEE expression is bit-identical by construction, and the BIGINT
    nano sums are exact under any merge order or partitioning."""
    contribs = (
        sym.join(ranks, sym.src == ranks.node)
        .select(
            F.col("dst").alias("node"),
            F.floor(
                F.col("r") / F.col("d") * F.lit(1e9) + F.lit(0.5)
            ).cast("long").alias("contrib_nanos"),
        )
        .groupBy("node")
        .agg(F.sum("contrib_nanos").alias("s_nanos"))
    )
    return ranks.select("node").join(contribs, "node", "left").select(
        "node",
        (
            F.lit(_PR_DAMP)
            * (
                F.coalesce(F.col("s_nanos"), F.lit(0)).cast("double")
                / F.lit(1e9)
            )
        ).alias("r"),
    )


@register(
    "pagerank_two_iter",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   {_sql_bucket('CAST(embedding AS DOUBLE[])')} AS bucket
            FROM embeddings
        ),
        edges AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id
            FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE floor(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v)))
                        * 1e6 + 0.5) / 1e6
                  >= {DEDUP_THRESHOLD}
        ),
        sym AS (
            SELECT a_id AS src, b_id AS dst FROM edges
            UNION ALL
            SELECT b_id, a_id FROM edges
        ),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
        deg AS (SELECT src, COUNT(*) AS d FROM sym GROUP BY src),
        r0 AS (
            SELECT vec_id AS node, 1.0 / nn.n AS r
            FROM embeddings CROSS JOIN nn
        ),
        c1 AS (
            -- nano-unit contributions via the pinned IEEE expression
            -- (floor(x*1e9+0.5), not round(x,9) — see _pr_iterate)
            SELECT s.dst AS node,
                   SUM(CAST(floor(r0.r / deg.d * 1e9 + 0.5) AS BIGINT))
                       AS s_nanos
            FROM sym s JOIN r0 ON s.src = r0.node JOIN deg ON s.src = deg.src
            GROUP BY s.dst
        ),
        r1 AS (
            SELECT r0.node,
                   0.15 / nn.n
                   + {_PR_DAMP}
                     * (COALESCE(CAST(c1.s_nanos AS DOUBLE), 0.0) / 1e9) AS r
            FROM r0 CROSS JOIN nn LEFT JOIN c1 ON r0.node = c1.node
        ),
        c2 AS (
            SELECT s.dst AS node,
                   SUM(CAST(floor(r1.r / deg.d * 1e9 + 0.5) AS BIGINT))
                       AS s_nanos
            FROM sym s JOIN r1 ON s.src = r1.node JOIN deg ON s.src = deg.src
            GROUP BY s.dst
        )
        SELECT r1.node,
               CAST(floor((0.15 / nn.n
                           + {_PR_DAMP}
                             * (COALESCE(CAST(c2.s_nanos AS DOUBLE), 0.0)
                                / 1e9)) * 1e9 + 0.5) AS BIGINT)
                   / 1e9 AS pr
        FROM r1 CROSS JOIN nn LEFT JOIN c2 ON r1.node = c2.node
    """,
)
def pagerank_two_iter(
    spark: SparkSession,
    sf_dir: str,
    planes: tuple[tuple[int, ...], ...] = sim.DEFAULT_PLANES,
) -> DataFrame:
    """Two PageRank iterations over the embedding near-dup graph
    (the same sign-projection-blocked cosine edges as
    embedding_cosine_dedup). Returns (node, pr) for every vector.
    N enters the plan as a broadcast singleton (no driver-side
    collect); a production loop would ``localCheckpoint()`` each rank
    frame to truncate lineage — with 2 unrolled rounds the lazy chain
    is fine.

    ``planes`` is the scale knob (VERDICT r8 #5): the edge build
    blocks on 2^len(planes) sign buckets, so with the fixed 3-plane
    default the in-bucket pair term grows ~quadratically under corpus
    replication (measured 18× wall at 10×). Production sizes buckets
    ∝ N via ``sim.make_planes(log2(N / target_bucket_size))``, keeping
    per-bucket membership — and the pair join — linear; the oracle
    pins the default, and tools/scale_stress.py measures the scaled-
    bucket row (``pagerank_two_iter@64buckets``) to show the factor
    drop toward linear."""
    emb = table(spark, sf_dir, "embeddings")
    nodes = emb.select(F.col("vec_id").alias("node"))
    edges = sim.cosine_near_dup_pairs(
        sim.prepare(emb, role="n"),
        threshold=DEDUP_THRESHOLD,
        planes=planes,
    ).select("a_id", "b_id")
    sym = _pr_edges_iterate_ready(edges)
    n_df = nodes.agg(F.count("*").cast("double").alias("n"))

    r0 = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    base = F.lit(0.15) / F.col("n")
    r1 = (
        _pr_iterate(r0, sym)
        .withColumnRenamed("r", "raw")
        .crossJoin(F.broadcast(n_df))
        .select("node", (base + F.col("raw")).alias("r"))
        # Materialize round 1 (r14): round 2 consumes r1 TWICE (the
        # contribution join and the all-nodes spine), and nothing in
        # the lazy chain guarantees exchange reuse across the two
        # differently-projected branches — the captured plan carried
        # the round-1 join+aggregate subtree twice (32 HashAggregate /
        # 14 BroadcastExchange nodes pre-checkpoint, 18→8 parquet
        # scans after). This is the docstring's own production-loop
        # policy ("localCheckpoint each rank frame") applied to the
        # unrolled form; eager because the two consumers would race a
        # lazy materialization from concurrent stages.
        .localCheckpoint(eager=True)
    )
    r2 = (
        _pr_iterate(r1, sym)
        .withColumnRenamed("r", "raw")
        .crossJoin(F.broadcast(n_df))
        .select(
            "node",
            (
                F.floor(
                    (base + F.col("raw")) * F.lit(1e9) + F.lit(0.5)
                ).cast("long").cast("double")
                / F.lit(1e9)
            ).alias("pr"),
        )
    )
    return r2


# --- Robust outliers via pinned type-1 quantiles -----------------------------
# Tukey fences per group with quartiles defined as ELEMENT SELECTION
# (type-1 / lower quantile: the smallest value whose cumulative count
# reaches ceil(p*n)) — no interpolation, so both engines pick the
# identical stored double and the fences lo/hi are bit-identical IEEE
# expressions over them. Scale design: the quantile does NOT sort raw
# rows in a per-group window (a 100 TB group would be one giant
# partition); it first collapses to (group, value, count) with a
# map-side-combined groupBy, then runs the cumulative window over the
# DISTINCT-value frame only — bounded by value cardinality, not row
# count. (For truly continuous values you'd pre-bucket; fixture values
# are 2-decimal currency-like, the common case this exact path
# serves.) Fence counting broadcasts the 5-row stats frame back.

@register(
    "outlier_iqr_report",
    oracle="""
        WITH vc AS (
            SELECT event_type, value, COUNT(*) AS c
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type, value
        ),
        cum AS (
            SELECT event_type, value,
                   SUM(c) OVER (
                       PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cc,
                   SUM(c) OVER (PARTITION BY event_type) AS n
            FROM vc
        ),
        q AS (
            SELECT event_type, MAX(n) AS n_events,
                   MIN(CASE WHEN cc >= (n + 3) // 4
                       THEN value END) AS q1,
                   MIN(CASE WHEN cc >= (3 * n + 3) // 4
                       THEN value END) AS q3
            FROM cum GROUP BY event_type
        )
        SELECT q.event_type, CAST(q.n_events AS BIGINT) AS n_events,
               q.q1, q.q3,
               COUNT(*) FILTER (
                   WHERE e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                      OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
               ) AS n_outliers
        FROM q JOIN events e USING (event_type)
        GROUP BY q.event_type, q.n_events, q.q1, q.q3
    """,
)
def outlier_iqr_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Tukey-fence outlier report over ``events``:
    (event_type, n_events, q1, q3, n_outliers) with q1/q3 the type-1
    quartiles computed by value-compressed cumulative counts
    (operators/quantiles.py)."""
    ev = table(spark, sf_dir, "events", fan_out=False).select(
        "event_type", "value"
    )
    q = qt.grouped_type1_quantiles(
        ev, "event_type", "value", {"q1": (1, 4), "q3": (3, 4)}
    )
    iqr = F.col("q3") - F.col("q1")
    lo = F.col("q1") - 1.5 * iqr
    hi = F.col("q3") + 1.5 * iqr
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "n_events", "q1", "q3")
        .agg(
            F.sum(
                ((F.col("value") < lo) | (F.col("value") > hi)).cast("long")
            ).alias("n_outliers")
        )
    )


# --- BPE merge-candidate mining ----------------------------------------------
# Step 1 of byte-pair-encoding tokenizer training (Sennrich et al.
# 2016): count adjacent-symbol pairs across the corpus, weighted by
# word frequency, and rank the top merge candidates. The scale shape
# is the real one: the corpus collapses to a (word, count) table
# first (one hash shuffle with map-side combine — the word-frequency
# table is tiny relative to the corpus), pairs explode from THAT, and
# the final rank window runs over the pair vocabulary (bounded by
# symbol-alphabet^2, not corpus size).

BPE_TOP_K = 20


def _sql_char_pairs(w: str) -> str:
    return (
        f"list_transform(generate_series(1, length({w}) - 1),"
        f" i -> substr({w}, i, 1) || ' ' || substr({w}, i + 1, 1))"
    )


@register(
    "bpe_merge_mining",
    oracle=f"""
        WITH toks AS (
            SELECT list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '') AS t
            FROM documents
        ),
        words AS (
            SELECT w, COUNT(*) AS c
            FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
        ),
        pairs AS (
            SELECT unnest({_sql_char_pairs('w')}) AS pair, c
            FROM words WHERE length(w) >= 2
        ),
        totals AS (
            SELECT pair, CAST(SUM(c) AS BIGINT) AS pair_count
            FROM pairs GROUP BY pair
        )
        SELECT pair, pair_count, rank FROM (
            SELECT *, ROW_NUMBER() OVER (
                ORDER BY pair_count DESC, pair ASC
            ) AS rank FROM totals
        ) WHERE rank <= {BPE_TOP_K}
    """,
)
def bpe_merge_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BPE merge candidates over ``documents``: adjacent
    character pairs weighted by word frequency — (pair, pair_count,
    rank), ties broken by pair text."""
    docs = table(spark, sf_dir, "documents", fan_out=False).select("text")
    words = (
        docs.select(F.explode(tx.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .filter(F.length("w") >= 2)
    )
    pair_arr = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.concat(
            F.col("w").substr(i, F.lit(1)),
            F.lit(" "),
            F.col("w").substr(i + 1, F.lit(1)),
        ),
    )
    pairs = words.select(F.explode(pair_arr).alias("pair"), "c")
    totals = pairs.groupBy("pair").agg(F.sum("c").alias("pair_count"))
    w = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return (
        totals.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BPE_TOP_K)
        .select("pair", "pair_count", "rank")
    )


# --- Embedding-similarity decontamination ------------------------------------
# The embedding-space sibling of ngram_decontaminate: flag corpus
# vectors whose cosine against ANY held-out eval vector clears a
# threshold. Eval sets are small by nature, so the eval side is
# broadcast and the corpus never shuffles — the same serving shape as
# brute_force_topk, which makes this linear in the corpus at 100 TB.

DECON_EVAL_MOD = 97  # vec_id % 97 == 5 → the held-out eval set
DECON_THRESHOLD = 0.30


@register(
    "embedding_decontaminate",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        ev AS (
            SELECT vec_id AS e_id, v AS ev FROM e
            WHERE vec_id % {DECON_EVAL_MOD} = 5
        ),
        corpus AS (
            SELECT vec_id AS n_id, v AS nv FROM e
            WHERE vec_id % {DECON_EVAL_MOD} <> 5
        ),
        scored AS (
            SELECT n_id, e_id,
                   floor(list_dot_product(nv, ev)
                         / (sqrt(list_dot_product(nv, nv))
                            * sqrt(list_dot_product(ev, ev)))
                         * 1e6 + 0.5) / 1e6 AS score
            FROM corpus CROSS JOIN ev
        ),
        best AS (
            SELECT n_id, e_id, score FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY n_id ORDER BY score DESC, e_id ASC
                ) AS rn FROM scored
            ) WHERE rn = 1
        )
        SELECT n_id, e_id, score FROM best
        WHERE score >= {DECON_THRESHOLD}
    """,
)
def embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vectors contaminated by the held-out eval set: for each
    corpus vector its argmax-cosine eval neighbor (ties → smallest
    e_id), kept when the score clears the threshold. Returns
    (n_id, e_id, score)."""
    emb = table(spark, sf_dir, "embeddings")
    ev = sim.prepare(
        emb.filter(F.col("vec_id") % DECON_EVAL_MOD == 5), role="e"
    )
    corpus = sim.prepare(
        emb.filter(F.col("vec_id") % DECON_EVAL_MOD != 5), role="n"
    )
    # norms once per row below the cross join (r14), not per
    # (corpus, eval) pair — bit-identical (vectors.cosine_given_norms)
    ev = ev.withColumn("e_nrm", vec.norm("e_vec"))
    corpus = corpus.withColumn("n_nrm", vec.norm("n_vec"))
    scored = corpus.crossJoin(F.broadcast(ev)).select(
        "n_id",
        (-F.col("e_id")).alias("neg_e"),
        qround(
            vec.cosine_given_norms("n_vec", "e_vec", "n_nrm", "e_nrm")
        ).alias("score"),
    )
    best = scored.groupBy("n_id").agg(
        F.max(F.struct("score", "neg_e")).alias("m")
    )
    return best.select(
        "n_id",
        (-F.col("m.neg_e")).alias("e_id"),
        F.col("m.score").alias("score"),
    ).filter(F.col("score") >= DECON_THRESHOLD)


# --- Dense-spine time-series gap fill ----------------------------------------
# Reporting over sparse facts needs explicit zero rows for missing
# (group, day) cells. The spine is generated from the span aggregate
# (a broadcast singleton — no driver collect), crossed with the
# distinct group domain, and left-joined back to the per-day counts.
# Scale: the spine is days × groups — tiny next to the fact table —
# so the only full shuffle is the per-day count's own groupBy.

@register(
    "time_gap_fill",
    oracle="""
        WITH counts AS (
            SELECT o_orderpriority AS prio,
                   CAST(o_orderdate AS DATE) AS d, COUNT(*) AS c
            FROM orders GROUP BY 1, 2
        ),
        span AS (
            SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
                   CAST(MAX(o_orderdate) AS DATE) AS d1
            FROM orders
        ),
        spine AS (
            SELECT CAST(unnest(generate_series(
                       CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                       INTERVAL 1 DAY)) AS DATE) AS d
            FROM span
        ),
        prios AS (SELECT DISTINCT o_orderpriority AS prio FROM orders)
        SELECT p.prio, s.d, COALESCE(c.c, 0) AS cnt
        FROM spine s CROSS JOIN prios p
        LEFT JOIN counts c ON c.prio = p.prio AND c.d = s.d
    """,
)
def time_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order counts per priority with missing days filled as 0
    over the full [min, max] date span. Returns (prio, d, cnt)."""
    orders = table(spark, sf_dir, "orders", fan_out=False).select(
        F.col("o_orderpriority").alias("prio"),
        F.to_date("o_orderdate").alias("d"),
    )
    counts = orders.groupBy("prio", "d").agg(F.count("*").alias("c"))
    span = orders.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = span.select(
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
        ).alias("d")
    )
    prios = orders.select("prio").distinct()
    return (
        spine.crossJoin(F.broadcast(prios))
        .join(counts, ["prio", "d"], "left")
        .select("prio", "d", F.coalesce("c", F.lit(0)).alias("cnt"))
    )


# --- Winsorized robust aggregation -------------------------------------------
# The clamp-then-aggregate companion to outlier_iqr_report: p05/p95
# type-1 quantiles from the same value-compressed cumulative-count
# pass (window over DISTINCT values, never rows), values clamped to
# the fences with pure least/greatest (no arithmetic — the selected
# doubles pass through bit-identical), then a decimal-pinned sum.

@register(
    "winsorize_stats",
    oracle="""
        WITH vc AS (
            SELECT event_type, value, COUNT(*) AS c
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type, value
        ),
        cum AS (
            SELECT event_type, value,
                   SUM(c) OVER (
                       PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cc,
                   SUM(c) OVER (PARTITION BY event_type) AS n
            FROM vc
        ),
        q AS (
            SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
                   MIN(CASE WHEN cc >= (n + 19) // 20
                       THEN value END) AS p05,
                   MIN(CASE WHEN cc >= (19 * n + 19) // 20
                       THEN value END) AS p95
            FROM cum GROUP BY event_type
        )
        SELECT q.event_type, q.n_events, q.p05, q.p95,
               floor(CAST(SUM(CAST(round(
                         least(greatest(e.value, q.p05), q.p95), 2)
                     AS DECIMAL(18,2))) AS DOUBLE) / q.n_events
                     * 1e6 + 0.5) / 1e6
                   AS wins_mean
        FROM q JOIN events e USING (event_type)
        WHERE e.value IS NOT NULL
        GROUP BY q.event_type, q.n_events, q.p05, q.p95
    """,
)
def winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event_type: clamp values to the type-1
    [p05, p95] fences (operators/quantiles.py), then aggregate with a
    decimal-pinned sum. Returns (event_type, n_events, p05, p95,
    wins_mean). The NOT NULL filter is load-bearing, not hygiene:
    least/greatest SKIP nulls on both engines, so an unfiltered NULL
    value would clamp to p05 (a non-null!) and inflate the sum while
    n_events — the quantile module's NULL-excluding count — stays
    fixed."""
    ev = (
        table(spark, sf_dir, "events", fan_out=False)
        .select("event_type", "value")
        .where(F.col("value").isNotNull())
    )
    q = qt.grouped_type1_quantiles(
        ev, "event_type", "value", {"p05": (1, 20), "p95": (19, 20)}
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "n_events", "p05", "p95")
        .agg(
            qround(
                # round-ok: 2-dp grid recovery — clamped is either the
                # source value or a type-1 (actual-data-value) quantile
                # bound, both on the 2-dp grid; the input sits within
                # 1 ulp of the grid, never near a .005 half boundary.
                F.sum(F.round(clamped, 2).cast("decimal(18,2)"))
                .cast("double")
                / F.col("n_events")
            ).alias("wins_mean")
        )
    )


# --- SCD2 point-in-time join -------------------------------------------------
# The warehouse lookup the SCD2 build exists FOR: facts joined to the
# dimension version valid AT the fact's timestamp. Complements
# scd2_history (which builds the validity intervals) and asof_join_lag
# (nearest-predecessor on a plain series): here the dimension is
# versioned with [valid_from, valid_to) half-open intervals and each
# fact matches AT MOST one version by construction (intervals
# partition a key's timeline; zero-width tie intervals match nothing).
# Scale shape: both sides shuffle once on the key; the interval
# predicate evaluates within each key's co-partitioned rows — the
# same bounded-state shape Spark's stream-stream interval join uses.

@register(
    "scd2_point_in_time_join",
    oracle="""
        WITH dim AS (
            SELECT user_id, event_type AS status, ts AS valid_from,
                   lead(ts) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ) AS valid_to
            FROM events
            WHERE event_type <> 'purchase' AND ts IS NOT NULL
        ),
        fact AS (
            SELECT user_id, ts, value FROM events
            WHERE event_type = 'purchase' AND ts IS NOT NULL
        ),
        pit AS (
            SELECT d.status, f.value
            FROM fact f JOIN dim d
              ON f.user_id = d.user_id
             AND f.ts >= d.valid_from
             AND (d.valid_to IS NULL OR f.ts < d.valid_to)
        )
        SELECT status,
               COUNT(*) AS purchases,
               CAST(SUM(CAST(round(value, 2) AS DECIMAL(18,2)))
                    AS DOUBLE) AS value_total
        FROM pit GROUP BY status
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases joined to the user's activity status valid at
    purchase time (SCD2 dimension from the non-purchase event stream,
    half-open [valid_from, valid_to) intervals, lead-window build).
    Returns (status, purchases, value_total). ts IS NOT NULL is
    load-bearing for cross-engine parity, not hygiene: Spark sorts
    NULLs FIRST ascending while DuckDB sorts them LAST, so a NULL
    timestamp would shift every validity interval in that user's
    timeline differently per engine (same guard as
    ewma_anomaly_report / watermark_lateness_audit)."""
    events = table(spark, sf_dir, "events", fan_out=False).where(
        F.col("ts").isNotNull()
    )
    dim = (
        events.filter(F.col("event_type") != "purchase")
        .select(
            "user_id",
            F.col("event_type").alias("status"),
            F.col("ts").alias("valid_from"),
            "event_id",
        )
        .withColumn(
            "valid_to",
            F.lead("valid_from").over(
                Window.partitionBy("user_id").orderBy(
                    F.asc("valid_from"), F.asc("event_id")
                )
            ),
        )
        .drop("event_id")
    )
    fact = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    pit = fact.join(
        dim,
        (fact.user_id == dim.user_id)
        & (fact.ts >= dim.valid_from)
        & (dim.valid_to.isNull() | (fact.ts < dim.valid_to)),
    )
    return pit.groupBy("status").agg(
        F.count("*").alias("purchases"),
        # round-ok: 2-dp grid recovery on the 2-dp source column —
        # input within 1 ulp of the grid, never near a half boundary.
        F.sum(F.round("value", 2).cast("decimal(18,2)"))
        .cast("double")
        .alias("value_total"),
    )


# --- Equi-depth histogram ----------------------------------------------------
# The quantile-bucketed complement of value_histogram_equiwidth:
# decile cut points from the value-compressed type-1 quantile pass
# (one call, 9 probabilities), then one broadcast of the 5x9 cut
# frame counts rows per bucket. Ties pin to the LOWER bucket
# (value > cut, strict), so bucketing is engine-exact with no FP
# arithmetic — the cuts are selected input doubles.

EQUIDEPTH_BUCKETS = 10


def _sql_bucket_expr() -> str:
    return " + ".join(
        f"CASE WHEN e.value > q.d{i} THEN 1 ELSE 0 END"
        for i in range(1, EQUIDEPTH_BUCKETS)
    )


@register(
    "value_histogram_equidepth",
    oracle=f"""
        WITH vc AS (
            SELECT event_type, value, COUNT(*) AS c
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type, value
        ),
        cum AS (
            SELECT event_type, value,
                   SUM(c) OVER (
                       PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cc,
                   SUM(c) OVER (PARTITION BY event_type) AS n
            FROM vc
        ),
        q AS (
            SELECT event_type,
                   {", ".join(
                       f"MIN(CASE WHEN cc >= ({i} * n + 9)"
                       f" // 10 THEN value END) AS d{i}"
                       for i in range(1, EQUIDEPTH_BUCKETS)
                   )}
            FROM cum GROUP BY event_type
        )
        SELECT e.event_type,
               {_sql_bucket_expr()} AS bucket,
               COUNT(*) AS cnt
        FROM events e JOIN q USING (event_type)
        WHERE e.value IS NOT NULL
        GROUP BY 1, 2
    """,
)
def value_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile (equi-depth) histogram of ``events.value`` per
    event_type: bucket = number of strictly-exceeded decile cuts.
    Returns (event_type, bucket, cnt) with cnt ≈ n/10 modulo ties.
    NULL values are excluded outright (matching the quantile pass) —
    a NULL value would otherwise bucket as NULL here but 0 in a
    CASE-ELSE formulation, a silent cross-engine trap (ADVICE r5)."""
    ev = (
        table(spark, sf_dir, "events", fan_out=False)
        .select("event_type", "value")
        .filter(F.col("value").isNotNull())
    )
    probs = {
        f"d{i}": (i, EQUIDEPTH_BUCKETS)
        for i in range(1, EQUIDEPTH_BUCKETS)
    }
    q = qt.grouped_type1_quantiles(ev, "event_type", "value", probs).drop(
        "n_events"
    )
    bucket = sum(
        (F.col("value") > F.col(f"d{i}")).cast("int")
        for i in range(1, EQUIDEPTH_BUCKETS)
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


# --- k-means cluster labeling ------------------------------------------------
# The step after clustering that makes clusters HUMAN-readable: top
# terms per cluster. Embeddings are document embeddings (vec_id ==
# doc_id); assignment reuses the fixed IVF seed centroids, the doc
# join brings in text, and one gram-keyed aggregate + per-cluster
# rank window produce the labels. Scale shape: the explode/aggregate
# is the token_stats shape; the rank window runs over the bounded
# (cluster x vocabulary) frame, not over rows.

LABEL_TOP_K = 3


@register(
    "cluster_top_terms",
    oracle=f"""
        WITH {_SQL_ASSIGN},
        toks AS (
            SELECT a.list_id,
                   unnest(list_filter(
                       regexp_split_to_array(trim(lower(d.text)), '\\s+'),
                       x -> x <> '')) AS term
            FROM assign a JOIN documents d ON a.n_id = d.doc_id
        ),
        tc AS (
            SELECT list_id, term, COUNT(*) AS term_cnt
            FROM toks GROUP BY list_id, term
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY list_id ORDER BY term_cnt DESC, term ASC
            ) AS rank
            FROM tc
        )
        SELECT list_id, term, CAST(term_cnt AS BIGINT) AS term_cnt, rank
        FROM ranked WHERE rank <= {LABEL_TOP_K}
    """,
)
def cluster_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per embedding cluster (fixed seed centroids,
    token multiplicity counted): (list_id, term, term_cnt, rank)."""
    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = sim.prepare(emb, role="n")
    centroids = sim.prepare(
        emb.filter(F.col("vec_id") % CENTROID_MOD == 3), role="c"
    )
    assigned = sim.ivf_assign(corpus, centroids).select("n_id", "list_id")
    toks = (
        assigned.join(docs, assigned.n_id == docs.doc_id)
        .select("list_id", F.explode(tx.tokens("text")).alias("term"))
    )
    tc = toks.groupBy("list_id", "term").agg(F.count("*").alias("term_cnt"))
    w = Window.partitionBy("list_id").orderBy(
        F.desc("term_cnt"), F.asc("term")
    )
    return (
        tc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= LABEL_TOP_K)
        .select("list_id", "term", "term_cnt", "rank")
    )


# --- Correlation matrix via exact moments ------------------------------------
# The all-pairs generalization of corr_regression_moments: every
# numeric lineitem measure is scaled to exact integers (quantities
# are integral; prices floor to whole units; rates pin to basis
# points via floor(x*10000 + 0.5) — the agreed double->int rounding),
# then ONE scan produces every first/second moment as
# partitioning-invariant integer sums, and the 6 pairwise Pearson
# coefficients are row-local double math unpivoted to long form.
# At 100 TB the squared sums approach 2^63 — swap the BIGINT sums for
# DECIMAL(38,0) (same derivation; the analytics_plans module comment).

_CORR_COLS = ("qty", "price", "disc", "tax")
_CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1:]
]


def _sql_corr(a: str, b: str) -> str:
    return (
        f"floor((n * CAST(s_{a}_{b} AS DOUBLE)"
        f" - CAST(s_{a} AS DOUBLE) * s_{b})"
        f" / sqrt((n * CAST(s_{a}_{a} AS DOUBLE)"
        f" - CAST(s_{a} AS DOUBLE) * s_{a})"
        f" * (n * CAST(s_{b}_{b} AS DOUBLE)"
        f" - CAST(s_{b} AS DOUBLE) * s_{b}))"
        f" * 1e6 + 0.5) / 1e6"
    )


@register(
    "corr_matrix_moments",
    oracle=f"""
        WITH pts AS (
            SELECT CAST(FLOOR(l_quantity) AS BIGINT) AS qty,
                   CAST(FLOOR(l_extendedprice) AS BIGINT) AS price,
                   CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT) AS disc,
                   CAST(FLOOR(l_tax * 10000 + 0.5) AS BIGINT) AS tax
            FROM lineitem
        ),
        m AS (
            SELECT COUNT(*) AS n,
                   {", ".join(
                       f"CAST(SUM({c}) AS BIGINT) AS s_{c}"
                       for c in _CORR_COLS
                   )},
                   {", ".join(
                       f"CAST(SUM({a} * {b}) AS BIGINT) AS s_{a}_{b}"
                       for i, a in enumerate(_CORR_COLS)
                       for b in _CORR_COLS[i:]
                   )}
            FROM pts
        )
        SELECT col_x, col_y, CAST(n AS BIGINT) AS n, corr FROM (
            SELECT n, {", ".join(
                f"{_sql_corr(a, b)} AS corr_{a}_{b}"
                for a, b in _CORR_PAIRS
            )}
            FROM m
        ) UNPIVOT (
            corr FOR pair IN ({", ".join(
                f"corr_{a}_{b}" for a, b in _CORR_PAIRS
            )})
        ), LATERAL (
            SELECT split_part(pair, '_', 2) AS col_x,
                   split_part(pair, '_', 3) AS col_y
        )
    """,
)
def corr_matrix_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix of the four lineitem measures in ONE
    scan: (col_x, col_y, n, corr) for the 6 unordered pairs."""
    li = table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.floor("l_quantity").cast("bigint").alias("qty"),
        F.floor("l_extendedprice").cast("bigint").alias("price"),
        F.floor(F.col("l_discount") * 10000 + 0.5).cast("bigint").alias(
            "disc"
        ),
        F.floor(F.col("l_tax") * 10000 + 0.5).cast("bigint").alias("tax"),
    )
    aggs = [F.count("*").alias("n")]
    aggs += [F.sum(c).alias(f"s_{c}") for c in _CORR_COLS]
    aggs += [
        F.sum(F.col(a) * F.col(b)).alias(f"s_{a}_{b}")
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i:]
    ]
    m = pts.agg(*aggs)

    def corr(a: str, b: str) -> F.Column:
        n = F.col("n")
        sa = F.col(f"s_{a}").cast("double")
        sb = F.col(f"s_{b}").cast("double")
        sab = F.col(f"s_{a}_{b}").cast("double")
        saa = F.col(f"s_{a}_{a}").cast("double")
        sbb = F.col(f"s_{b}_{b}").cast("double")
        return qround(
            (n * sab - sa * F.col(f"s_{b}"))
            / F.sqrt(
                (n * saa - sa * F.col(f"s_{a}"))
                * (n * sbb - sb * F.col(f"s_{b}"))
            )
        )

    wide = m.select(
        "n", *[corr(a, b).alias(f"corr_{a}_{b}") for a, b in _CORR_PAIRS]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', corr_{a}_{b}" for a, b in _CORR_PAIRS
    )
    return wide.selectExpr(
        f"stack({len(_CORR_PAIRS)}, {stack_args}) AS (col_x, col_y, corr)",
        "n",
    ).select("col_x", "col_y", "n", "corr")


# --- NULL-safe quantiles (r6) -------------------------------------------------
# Drives the quantile operator's NULL-exclusion path with NULLs
# actually PRESENT (the stock fixtures have none — the round-5 advice
# found the NULL divergence latent precisely because nothing exercised
# it at driver level). A deterministic ~14% of values are nulled via
# event_id so both engines derive the identical NULL mask; the
# quantile construction then must ignore them entirely: n counts
# non-NULL rows only, and the cumulative window never sees a NULL
# (Spark would order them FIRST, DuckDB LAST — the silent-shift trap).

NULLQ_MOD = 7


@register(
    "null_safe_quantiles",
    oracle=f"""
        WITH base AS (
            SELECT event_type,
                   CASE WHEN event_id % {NULLQ_MOD} = 0 THEN NULL
                        ELSE value END AS v
            FROM events
        ),
        vc AS (
            SELECT event_type, v AS value, COUNT(*) AS c
            FROM base WHERE v IS NOT NULL
            GROUP BY event_type, v
        ),
        cum AS (
            SELECT event_type, value,
                   SUM(c) OVER (
                       PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cc,
                   SUM(c) OVER (PARTITION BY event_type) AS n
            FROM vc
        )
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
               MIN(CASE WHEN cc >= (n + 3) // 4 THEN value END) AS q1,
               MIN(CASE WHEN cc >= (n + 1) // 2 THEN value END) AS med,
               MIN(CASE WHEN cc >= (3 * n + 3) // 4 THEN value END) AS q3
        FROM cum GROUP BY event_type
    """,
)
def null_safe_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-1 quartiles per event_type over a value column with
    deterministically planted NULLs (event_id % 7 == 0): NULLs must
    not shift the cumulative counts or inflate n. Returns
    (event_type, n_events, q1, med, q3) where n_events counts
    non-NULL values only."""
    ev = table(spark, sf_dir, "events", fan_out=False).select(
        "event_type",
        F.when(F.col("event_id") % NULLQ_MOD == 0, F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    return qt.grouped_type1_quantiles(
        ev, "event_type", "v",
        {"q1": (1, 4), "med": (1, 2), "q3": (3, 4)},
    )


# --- MAD robust scale (r6) ----------------------------------------------------
# Median absolute deviation — the robust-statistics scale estimator
# (50% breakdown point vs the IQR's 25%): med = median(x), mad =
# median(|x − med|), σ̂ = 1.4826·mad. TWO chained value-compressed
# quantile passes: the per-group median broadcasts back (5 rows), the
# deviation column is row-local IEEE |x − med| (identical doubles both
# engines — no rounding needed before SELECTION), and the second pass
# runs over the deviation-value frame. Composability is the point:
# the quantile operator is a building block, not a one-shot query.


@register(
    "mad_robust_scale",
    oracle="""
        WITH vc1 AS (
            SELECT event_type, value, COUNT(*) AS c
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type, value
        ),
        cum1 AS (
            SELECT event_type, value,
                   SUM(c) OVER (
                       PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cc,
                   SUM(c) OVER (PARTITION BY event_type) AS n
            FROM vc1
        ),
        med AS (
            SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
                   MIN(CASE WHEN cc >= (n + 1) // 2 THEN value END) AS med
            FROM cum1 GROUP BY event_type
        ),
        dev AS (
            SELECT e.event_type, abs(e.value - m.med) AS adev
            FROM events e JOIN med m USING (event_type)
            WHERE e.value IS NOT NULL
        ),
        vc2 AS (
            SELECT event_type, adev, COUNT(*) AS c
            FROM dev GROUP BY event_type, adev
        ),
        cum2 AS (
            SELECT event_type, adev,
                   SUM(c) OVER (
                       PARTITION BY event_type ORDER BY adev
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cc,
                   SUM(c) OVER (PARTITION BY event_type) AS n
            FROM vc2
        ),
        mad AS (
            SELECT event_type,
                   MIN(CASE WHEN cc >= (n + 1) // 2 THEN adev END) AS mad
            FROM cum2 GROUP BY event_type
        )
        SELECT m.event_type, m.n_events, m.med, d.mad,
               floor(1.4826 * d.mad * 1e6 + 0.5) / 1e6 AS mad_scaled
        FROM med m JOIN mad d USING (event_type)
    """,
)
def mad_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type MAD: median via the value-compressed quantile
    pass, |x − med| row-local, second quantile pass over deviations,
    ×1.4826 for the normal-consistent scale. Returns (event_type,
    n_events, med, mad, mad_scaled)."""
    ev = table(spark, sf_dir, "events", fan_out=False).select(
        "event_type", "value"
    )
    med = qt.grouped_type1_quantiles(
        ev, "event_type", "value", {"med": (1, 2)}
    )
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "n_events",
            "med",
            F.abs(F.col("value") - F.col("med")).alias("adev"),
        )
    )
    mad = qt.grouped_type1_quantiles(
        dev, "event_type", "adev", {"mad": (1, 2)}
    ).select("event_type", "mad")
    return (
        med.join(mad, "event_type")
        .select(
            "event_type",
            "n_events",
            "med",
            "mad",
            qround(1.4826 * F.col("mad")).alias("mad_scaled"),
        )
    )


# --- Embedding distribution drift between epochs (r6) --------------------------
# The embedding-space sibling of dq_metric_drift, and the monitoring
# check a production training pipeline runs on every corpus refresh:
# has the embedding distribution MOVED? Corpus splits at the type-1
# median vec_id (integer-exact), each epoch's per-label mean centroid
# computes distributed (posexplode → (label, epoch, dim) keyed
# decimal-exact means — the ivf_mean_centroids machinery), and the
# report is the cosine between a label's two epoch centroids. Scale:
# one explode pass, one (label, epoch, dim)-keyed aggregate (bounded
# by labels × dims, not rows), then an O(labels × dims) join — no
# pairwise anything.


@register(
    "embedding_drift_epochs",
    oracle="""
        WITH ids AS (SELECT vec_id FROM embeddings),
        cum AS (
            SELECT vec_id,
                   ROW_NUMBER() OVER (ORDER BY vec_id) AS rn,
                   COUNT(*) OVER () AS n
            FROM ids
        ),
        med AS (
            SELECT MIN(CASE WHEN rn >= (n + 1) // 2 THEN vec_id END) AS m
            FROM cum
        ),
        ex AS (
            SELECT e.label,
                   CASE WHEN e.vec_id <= med.m THEN 0 ELSE 1 END AS epoch,
                   unnest(CAST(e.embedding AS DOUBLE[])) AS val,
                   unnest(range(1, len(e.embedding) + 1)) AS dim
            FROM embeddings e CROSS JOIN med
        ),
        dims AS (
            SELECT label, epoch, dim,
                   floor(CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE)
                         / COUNT(*) * 1e6 + 0.5) / 1e6 AS mval,
                   COUNT(*) AS c
            FROM ex GROUP BY 1, 2, 3
        ),
        joined AS (
            SELECT a.label, a.dim, a.mval AS ma, b.mval AS mb,
                   a.c AS ca, b.c AS cb
            FROM (SELECT * FROM dims WHERE epoch = 0) a
            JOIN (SELECT * FROM dims WHERE epoch = 1) b
              USING (label, dim)
        )
        SELECT label,
               CAST(MAX(ca) AS BIGINT) AS n_a,
               CAST(MAX(cb) AS BIGINT) AS n_b,
               floor(CAST(SUM(CAST(floor(ma * mb * 1e8 + 0.5) / 1e8
                                   AS DECIMAL(28,8)))
                          AS DOUBLE)
                     / (sqrt(CAST(SUM(CAST(floor(ma * ma * 1e8 + 0.5) / 1e8
                                           AS DECIMAL(28,8))) AS DOUBLE))
                        * sqrt(CAST(SUM(CAST(floor(mb * mb * 1e8 + 0.5) / 1e8
                                             AS DECIMAL(28,8)))
                                    AS DOUBLE)))
                     * 1e6 + 0.5) / 1e6 AS centroid_cosine
        FROM joined GROUP BY label
    """,
)
def embedding_drift_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label cosine between the mean centroids of the two
    median-vec_id epochs: (label, n_a, n_b, centroid_cosine). Means
    are decimal-exact then rounded once per dimension; the cosine's
    moment sums are decimal-pinned products of those rounded means."""
    emb = table(spark, sf_dir, "embeddings", fan_out=False)
    # Median vec_id WITHOUT a global-order window (which would plan
    # the single-partition sort this module's scale notes reject):
    # the surrogate_key_assignment two-phase rank — range-partition,
    # rank locally in parallel, add broadcast per-partition offsets
    # (a DRIFT_PARTS-row frame), then take the (n+1) DIV 2-ranked id.
    DRIFT_PARTS = 8
    ranged = (
        emb.select("vec_id")
        .repartitionByRange(DRIFT_PARTS, "vec_id")
        .select("vec_id", F.spark_partition_id().alias("pid"))
    )
    local = ranged.select(
        "vec_id",
        "pid",
        F.row_number()
        .over(Window.partitionBy("pid").orderBy("vec_id"))
        .alias("lrn"),
    ).localCheckpoint(eager=True)  # 3 consumers: offsets, n, the rank probe
    counts = local.groupBy("pid").agg(F.count(F.lit(1)).alias("c"))
    offsets = counts.select(
        "pid",
        F.coalesce(
            F.sum("c").over(
                Window.orderBy("pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("off"),
    )
    n_total = counts.agg(F.sum("c").alias("n"))
    med = (
        local.join(F.broadcast(offsets), "pid")
        .crossJoin(F.broadcast(n_total))
        .where(
            (F.col("off") + F.col("lrn"))
            == F.call_function(
                "div", (F.col("n") + 1).cast("long"), F.lit(2).cast("long")
            )
        )
        .agg(F.min("vec_id").alias("m"))
    )
    ex = (
        emb.crossJoin(F.broadcast(med))
        .select(
            "label",
            F.when(F.col("vec_id") <= F.col("m"), F.lit(0))
            .otherwise(F.lit(1))
            .alias("epoch"),
            F.posexplode(F.transform("embedding", lambda x: x.cast("double"))),
        )
        .select(
            "label", "epoch", (F.col("pos") + 1).alias("dim"),
            F.col("col").alias("val"),
        )
    )
    dims = ex.groupBy("label", "epoch", "dim").agg(
        qround(
            F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
            / F.count("*")
        ).alias("mval"),
        F.count("*").alias("c"),
    )
    a = dims.filter(F.col("epoch") == 0).select(
        "label", "dim",
        F.col("mval").alias("ma"), F.col("c").alias("ca"),
    )
    b = dims.filter(F.col("epoch") == 1).select(
        "label", "dim",
        F.col("mval").alias("mb"), F.col("c").alias("cb"),
    )
    joined = a.join(b, ["label", "dim"])
    dot = F.sum(qround(F.col("ma") * F.col("mb"), 8).cast("decimal(28,8)"))
    na2 = F.sum(qround(F.col("ma") * F.col("ma"), 8).cast("decimal(28,8)"))
    nb2 = F.sum(qround(F.col("mb") * F.col("mb"), 8).cast("decimal(28,8)"))
    return joined.groupBy("label").agg(
        F.max("ca").alias("n_a"),
        F.max("cb").alias("n_b"),
        qround(
            dot.cast("double")
            / (F.sqrt(na2.cast("double")) * F.sqrt(nb2.cast("double")))
        ).alias("centroid_cosine"),
    )


# --- Bounded-window EWMA anomaly detection ------------------------------------
# Streaming metric monitors (and data-drift gates over ingest
# batches) predict each point from an exponentially-weighted moving
# average of its recent history and flag large deviations. A true
# EWMA is a sequential recurrence — the anti-pattern at 100 TB — so
# this uses the K-bounded formulation: weights 2^-d over the last K
# predecessors. 2^-d is EXACTLY representable as a double, so each
# w*x product is a pure exponent shift of x (bit-identical on both
# engines); per-term products are rounded at one site and summed as
# DECIMAL (the mixing-pack float policy).

EWMA_K = 8          # predecessors per prediction (bounds the self-join)
EWMA_REL_LIMIT = 0.5  # |value - pred| / (|pred| + 1) above this → anomaly

_EWMA_ORACLE = f"""
    WITH base AS (
        SELECT event_id, user_id, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS rn
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    pairs AS (
        SELECT c.event_id, c.event_type, c.value,
               CAST(floor(pow(0.5, c.rn - p.rn) * p.value * 1e6 + 0.5)
                    / 1e6 AS DECIMAL(28,6)) AS wx,
               CAST(pow(0.5, c.rn - p.rn) AS DECIMAL(18,8)) AS w
        FROM base c JOIN base p
          ON c.user_id = p.user_id
         AND c.rn - p.rn BETWEEN 1 AND {EWMA_K}
    ),
    pred AS (
        SELECT event_id, event_type, value,
               floor(CAST(SUM(wx) AS DOUBLE)
                     / CAST(SUM(w) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS ewma
        FROM pairs GROUP BY event_id, event_type, value
    )
    SELECT event_type,
           COUNT(*) AS n_scored,
           CAST(SUM(CASE WHEN floor(abs(value - ewma)
                                    / (abs(ewma) + 1.0) * 1e6 + 0.5) / 1e6
                              > {EWMA_REL_LIMIT}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           floor(CAST(SUM(CASE WHEN floor(abs(value - ewma)
                                          / (abs(ewma) + 1.0)
                                          * 1e6 + 0.5) / 1e6
                                    > {EWMA_REL_LIMIT}
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 1e6 + 0.5) / 1e6 AS anomaly_rate
    FROM pred GROUP BY event_type
"""


@register("ewma_anomaly_report", oracle=_EWMA_ORACLE)
def ewma_anomaly_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type anomaly rates from a K-bounded EWMA predictor:
    each event's prediction is the 2^-d-weighted mean of its last K
    values within the user's timeline (total order: ts, event_id);
    deviation beyond EWMA_REL_LIMIT of (|pred|+1) flags an anomaly.

    Scale shape: the recurrence is replaced by a rank-range self-join
    (d = rn_cur - rn_prev ∈ [1, K]) — row growth is a FIXED ×K, both
    sides hash-partition on user_id, and the per-event reduce is a
    map-side-combinable SUM. No window carries unbounded state and no
    driver loop exists, so the plan is one shuffle wider than a plain
    window agg but embarrassingly parallel at any scale. Weights 2^-d
    are exact doubles (exponent shifts), so w*x is bit-identical
    across engines; products round at ONE site then sum as DECIMAL."""
    # ts IS NOT NULL is load-bearing for cross-engine rank parity, not
    # just hygiene: Spark sorts NULLs FIRST ascending while DuckDB
    # sorts them LAST, so a NULL timestamp would silently shift every
    # rn in that user's timeline (same guard as watermark_lateness_
    # audit and peak_concurrency_report).
    ev = (
        table(spark, sf_dir, "events", fan_out=False)
        .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            "event_id", "user_id", "event_type", "value",
            F.row_number()
            .over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            )
            .alias("rn"),
        )
    )
    c, p = ev.alias("c"), ev.alias("p")
    d = F.col("c.rn") - F.col("p.rn")
    pairs = c.join(
        p,
        (F.col("c.user_id") == F.col("p.user_id"))
        & d.between(1, EWMA_K),
    ).select(
        F.col("c.event_id").alias("event_id"),
        F.col("c.event_type").alias("event_type"),
        F.col("c.value").alias("value"),
        qround(F.pow(F.lit(0.5), d) * F.col("p.value"))
        .cast("decimal(28,6)")
        .alias("wx"),
        F.pow(F.lit(0.5), d).cast("decimal(18,8)").alias("w"),
    )
    pred = pairs.groupBy("event_id", "event_type", "value").agg(
        qround(
            F.sum("wx").cast("double") / F.sum("w").cast("double")
        ).alias("ewma")
    )
    is_anom = (
        qround(
            F.abs(F.col("value") - F.col("ewma"))
            / (F.abs(F.col("ewma")) + 1.0)
        )
        > EWMA_REL_LIMIT
    ).cast("long")
    return pred.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(is_anom).cast("bigint").alias("n_anomalies"),
        qround(
            F.sum(is_anom).cast("double") / F.count(F.lit(1))
        ).alias("anomaly_rate"),
    )


# --- Two-sample Kolmogorov–Smirnov drift test ---------------------------------
# dq_metric_drift compares scalar metrics between epochs; the KS test
# compares the DISTRIBUTIONS: D = max_v |F0(v) − F1(v)|, the standard
# nonparametric two-sample drift detector. Computed exactly in integer
# arithmetic on the value-compressed frame (cumulative counts over
# DISTINCT values — the operators/quantiles.py discipline), with the
# single float division at the end: |cum0·n1 − cum1·n0| stays in
# DECIMAL(38,0) so the cross-multiplication cannot overflow at any
# realistic group size (int64 would overflow near n ≈ 3e9 per epoch).

KS_ALPHA_COEF = 1.358  # c(α) for α = 0.05


@register(
    "ks_drift_test",
    oracle=f"""
        WITH ev AS (
            SELECT event_type, value,
                   CAST(event_id % 2 AS BIGINT) AS epoch
            FROM events WHERE value IS NOT NULL
        ),
        vc AS (
            SELECT event_type, value,
                   CAST(SUM(CASE WHEN epoch = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c0,
                   CAST(SUM(CASE WHEN epoch = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c1
            FROM ev GROUP BY event_type, value
        ),
        cum AS (
            SELECT event_type,
                   SUM(c0) OVER (
                       PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum0,
                   SUM(c1) OVER (
                       PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum1,
                   SUM(c0) OVER (PARTITION BY event_type) AS n0,
                   SUM(c1) OVER (PARTITION BY event_type) AS n1
            FROM vc
        ),
        per_type AS (
            SELECT event_type, MAX(n0) AS n0, MAX(n1) AS n1,
                   MAX(abs(CAST(cum0 AS DECIMAL(38,0)) * n1
                           - CAST(cum1 AS DECIMAL(38,0)) * n0))
                       AS d_scaled
            FROM cum GROUP BY event_type
            HAVING MAX(n0) > 0 AND MAX(n1) > 0
        )
        SELECT event_type,
               CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
               floor(CAST(d_scaled AS DOUBLE)
                     / (CAST(n0 AS DOUBLE) * n1) * 1e6 + 0.5) / 1e6
                   AS ks_stat,
               floor({KS_ALPHA_COEF} * sqrt((n0 + CAST(n1 AS DOUBLE))
                                            / (CAST(n0 AS DOUBLE) * n1))
                     * 1e6 + 0.5) / 1e6 AS crit_value,
               CAST(CASE WHEN floor(CAST(d_scaled AS DOUBLE)
                                    / (CAST(n0 AS DOUBLE) * n1)
                                    * 1e6 + 0.5) / 1e6
                              > floor({KS_ALPHA_COEF}
                                      * sqrt((n0 + CAST(n1 AS DOUBLE))
                                             / (CAST(n0 AS DOUBLE) * n1))
                                      * 1e6 + 0.5) / 1e6
                         THEN 1 ELSE 0 END AS BIGINT) AS drift_flag
        FROM per_type
    """,
)
def ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic per event type between the
    event_id-parity epochs, with the α=0.05 critical value and a
    drift flag. D is found on the value-compressed frame: one
    (type, value)-keyed aggregate carrying both epochs' counts, one
    type-partitioned cumulative window over DISTINCT values (rows =
    unique values, not events — the quantile-module scale answer),
    and the cross-multiplied deviation stays exact DECIMAL until the
    final division. One float division + one sqrt per TYPE, not per
    row; both rounded at the compare site on both engines."""
    ev = (
        table(spark, sf_dir, "events", fan_out=False)
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            (F.col("event_id") % 2).cast("bigint").alias("epoch"),
        )
    )
    vc = ev.groupBy("event_type", "value").agg(
        F.sum((F.col("epoch") == 0).cast("long")).cast("bigint").alias("c0"),
        F.sum((F.col("epoch") == 1).cast("long")).cast("bigint").alias("c1"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    cum = vc.select(
        "event_type",
        F.sum("c0").over(wc).alias("cum0"),
        F.sum("c1").over(wc).alias("cum1"),
        F.sum("c0").over(wt).alias("n0"),
        F.sum("c1").over(wt).alias("n1"),
    )
    per_type = (
        cum.groupBy("event_type")
        .agg(
            F.max("n0").alias("n0"),
            F.max("n1").alias("n1"),
            F.max(
                F.abs(
                    F.col("cum0").cast("decimal(38,0)") * F.col("n1")
                    - F.col("cum1").cast("decimal(38,0)") * F.col("n0")
                )
            ).alias("d_scaled"),
        )
        .where((F.col("n0") > 0) & (F.col("n1") > 0))
    )
    ks = qround(
        F.col("d_scaled").cast("double")
        / (F.col("n0").cast("double") * F.col("n1"))
    )
    crit = qround(
        F.lit(KS_ALPHA_COEF)
        * F.sqrt(
            (F.col("n0") + F.col("n1").cast("double"))
            / (F.col("n0").cast("double") * F.col("n1"))
        )
    )
    return per_type.select(
        "event_type",
        F.col("n0").cast("bigint").alias("n0"),
        F.col("n1").cast("bigint").alias("n1"),
        ks.alias("ks_stat"),
        crit.alias("crit_value"),
        (ks > crit).cast("bigint").alias("drift_flag"),
    )

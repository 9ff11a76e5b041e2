"""Round-5 training-data pipeline pack: sequence packing, boilerplate
removal, PII redaction, incremental corpus dedup, snapshot diff, BM25
retrieval, and a Deequ-style data-quality constraint report.

These extend the beyond-reference LLM-pipeline suite (COVERAGE.md
"Beyond-reference" table). Like the rest of the curation pack, every
oracle is GENERATED from the same constants that drive the Spark
expressions, and every float that crosses the engine boundary is
either derived from identical IEEE arithmetic or rounded at one pinned
site on both sides (the unigram_logprob_quality precedent).

Reference anchors (for parity checking only — the reference has none
of these; they are the training-data ops the brief adds on top):
cleaning contract tools/ingest_runner.py:1444-1445 for the DQ report's
"observed vs expected" framing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automatic_etl_spark.functions import text as tx
from automatic_etl_spark.plans.curation_plans import PII_PATTERNS
from automatic_etl_spark.plans.registry import register
from automatic_etl_spark.plans.relational import qround
from automatic_etl_spark.sources.parquet import table

# SQL mirror of functions/text.py tokens() / token_count()
_SQL_TOKENS = (
    "list_filter(regexp_split_to_array(trim(lower({c})), '\\s+'),"
    " x -> x <> '')"
)
_SQL_TOKEN_COUNT = f"len({_SQL_TOKENS})"


# --- Sequence packing --------------------------------------------------------
# Greedy next-fit packing of documents into fixed token-budget training
# sequences. The pack assignment is doc_id-ordered within a hash bucket,
# so it is deterministic, reproducible across retries, and
# embarrassingly parallel across buckets: at 100 TB the bucket count
# scales with the cluster (doc_id % n_shards) and each bucket's window
# sort is a per-partition sort after ONE hash shuffle — no global sort.

PACK_BUDGET = 256  # tokens per training sequence
PACK_BUCKETS = 8


@register(
    "sequence_packing",
    oracle=f"""
        WITH sized AS (
            SELECT doc_id,
                   doc_id % {PACK_BUCKETS} AS bucket,
                   CAST({_SQL_TOKEN_COUNT.format(c='text')} AS BIGINT) AS tok
            FROM documents
        ),
        packed AS (
            SELECT bucket, tok,
                   COALESCE(SUM(tok) OVER (
                       PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) // {PACK_BUDGET} AS seq_id
            FROM sized
        )
        SELECT bucket,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT seq_id) AS n_seqs,
               CAST(SUM(tok) AS BIGINT) AS tokens_total,
               floor(CAST(SUM(tok) AS DOUBLE)
                     / (COUNT(DISTINCT seq_id) * {PACK_BUDGET}.0)
                     * 1e6 + 0.5) / 1e6
                   AS fill_ratio
        FROM packed GROUP BY bucket
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack docs into PACK_BUDGET-token training sequences by greedy
    next-fit in doc_id order per bucket: a doc joins the sequence where
    its exclusive running-token-sum lands. A doc may overflow its
    sequence (greedy fill) — the fill_ratio column reports the packing
    efficiency that overflow costs. Integer arithmetic end to end
    (cumsum DIV budget); the one double is a division of identical
    integer operands on both engines."""
    docs = table(spark, sf_dir, "documents", fan_out=False)
    sized = docs.select(
        "doc_id",
        F.pmod("doc_id", F.lit(PACK_BUCKETS)).alias("bucket"),
        tx.token_count("text").cast("long").alias("tok"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sized.withColumn(
        "_cum", F.coalesce(F.sum("tok").over(w), F.lit(0))
    ).withColumn("seq_id", F.expr(f"_cum DIV {PACK_BUDGET}"))
    return packed.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("seq_id").alias("n_seqs"),
        F.sum("tok").alias("tokens_total"),
        qround(
            F.sum("tok").cast("double")
            / (F.countDistinct("seq_id") * float(PACK_BUDGET))
        ).alias("fill_ratio"),
    )


# --- Boilerplate n-gram removal (C4-style) -----------------------------------
# A word bigram that appears in >= BOILER_PCT% of ALL documents is
# boilerplate (headers, nav text, templates). Fraction threshold, not
# absolute count, so the rule is scale-invariant; the compare is pure
# integer arithmetic (df * 100 >= n_docs * PCT) — no float boundary.

BOILER_N = 2
BOILER_PCT = 8  # gram is boilerplate if present in >= 8% of docs


@register(
    "boilerplate_ngrams",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang, {_SQL_TOKENS.format(c='text')} AS t
            FROM documents
        ),
        grams AS (
            -- len-driven positions (NOT a fixed generate_series cap):
            -- the Spark side's tx.shingles is unbounded, so a fixed
            -- cap would silently truncate any doc longer than the cap
            -- and break parity
            SELECT DISTINCT doc_id, lang, t[i] || ' ' || t[i+1] AS g
            FROM (
                SELECT doc_id, lang, t,
                       unnest(generate_series(1, len(t) - {BOILER_N - 1})) AS i
                FROM toks
            )
        ),
        total AS (SELECT COUNT(*) AS n FROM documents),
        boiler AS (
            SELECT g FROM grams CROSS JOIN total
            GROUP BY g, total.n
            HAVING COUNT(DISTINCT doc_id) * 100 >= n * {BOILER_PCT}
        ),
        per_doc AS (
            SELECT gr.doc_id,
                   COUNT(*) AS gram_cnt,
                   COUNT(*) FILTER (WHERE b.g IS NOT NULL) AS boiler_cnt
            FROM grams gr LEFT JOIN boiler b ON gr.g = b.g
            GROUP BY gr.doc_id
        )
        SELECT d.lang,
               COUNT(*) AS docs,
               CAST(SUM(CASE WHEN p.boiler_cnt > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS docs_flagged,
               CAST(SUM(p.boiler_cnt) AS BIGINT) AS boiler_hits,
               CAST(SUM(p.gram_cnt) AS BIGINT) AS grams_total
        FROM documents d JOIN per_doc p ON d.doc_id = p.doc_id
        GROUP BY d.lang
    """,
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate detection: distinct word bigrams scored by
    document frequency; a gram in >= BOILER_PCT% of the corpus is
    boilerplate, and each doc reports how much of its distinct-gram
    mass is boilerplate. Two shuffles at scale — the gram-keyed DF
    aggregate (zipfian skew; AQE skew join applies) and the doc-keyed
    rollup; the corpus size is a broadcast scalar."""
    docs = table(spark, sf_dir, "documents")
    # NOT checkpointed (r14 interleaved A/B, OPTIMIZATION_r14.md):
    # grams has only TWO consumers and the token-bind fix made the
    # explode front cheap, so materializing it measured +6% median at
    # sf0.1 (block write + extra barrier job outweigh one saved
    # explode) — unlike the 3-5-consumer minhash fronts where the
    # same checkpoint won 12-24%.
    grams = docs.select(
        "doc_id", "lang",
        F.explode(tx.shingles("text", BOILER_N)).alias("g"),
    )
    total = docs.agg(F.count("*").alias("n"))
    boiler = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df_cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("df_cnt") * 100 >= F.col("n") * BOILER_PCT)
        .select("g")
    )
    per_doc = (
        grams.join(boiler.withColumn("is_boiler", F.lit(1)), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("gram_cnt"),
            F.sum(F.coalesce("is_boiler", F.lit(0))).alias("boiler_cnt"),
        )
    )
    return (
        docs.select("doc_id", "lang")
        .join(per_doc, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum((F.col("boiler_cnt") > 0).cast("int")).alias("docs_flagged"),
            F.sum("boiler_cnt").alias("boiler_hits"),
            F.sum("gram_cnt").alias("grams_total"),
        )
    )


# --- PII redaction -----------------------------------------------------------
# The write-side counterpart of pii_scan_stats: replace every PII match
# with a redaction token and account for what changed. Reuses the
# planted-PII corpus and the RE2∩Java-safe patterns so scan and redact
# can never disagree about what PII is.

_REDACTION = "[PII]"
# import the plant CTE lazily to avoid circular-import surprises
from automatic_etl_spark.plans.curation_plans import (  # noqa: E402
    _SQL_PII_PLANT,
    _pii_planted,
)


def _sql_redact_chain(col: str) -> str:
    expr = col
    for pat in PII_PATTERNS.values():
        expr = f"regexp_replace({expr}, '{pat}', '[PII]', 'g')"
    return expr


@register(
    "pii_redaction",
    oracle=f"""
        WITH {_SQL_PII_PLANT},
        red AS (
            SELECT lang, text, {_sql_redact_chain('text')} AS redacted
            FROM planted
        )
        SELECT lang,
               COUNT(*) AS docs,
               CAST(SUM(CASE WHEN redacted <> text THEN 1 ELSE 0 END)
                    AS BIGINT) AS redacted_docs,
               CAST(SUM(len(regexp_extract_all(redacted, '\\[PII\\]')))
                    AS BIGINT) AS redactions,
               CAST(SUM(len(text) - len(redacted)) AS BIGINT) AS chars_removed
        FROM red GROUP BY lang
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact every PII match with a fixed token, then audit: docs
    touched, redaction count (counted in the OUTPUT text so the number
    is exactly what a consumer would see), and net characters removed.
    Patterns apply in one pinned order on both engines. Pure map-side
    regexp_replace chain inside codegen + a tiny aggregate — at 100 TB
    this is the same shape as the scan, a single pass."""
    planted = _pii_planted(spark, sf_dir)
    red = F.col("text")
    for pat in PII_PATTERNS.values():
        red = F.regexp_replace(red, pat, _REDACTION)
    scored = planted.select("lang", "text", red.alias("redacted"))
    return scored.groupBy("lang").agg(
        F.count("*").alias("docs"),
        F.sum((F.col("redacted") != F.col("text")).cast("int")).alias(
            "redacted_docs"
        ),
        F.sum(F.regexp_count("redacted", F.lit(r"\[PII\]"))).alias(
            "redactions"
        ),
        F.sum(F.length("text") - F.length("redacted")).alias("chars_removed"),
    )


# --- Incremental corpus dedup ------------------------------------------------
# Dedup an INCOMING batch against an existing corpus — the steady-state
# shape of a crawl pipeline (the full-corpus queries exact_dedup /
# minhash_lsh_dedup are the bootstrap shape). The batch is derived
# deterministically from the fixtures: genuinely-new docs, re-crawled
# corpus docs (dup-vs-corpus), and double-submitted new docs
# (dup-within-batch).

_INC_NEW = 1_000_000
_INC_RECRAWL = 2_000_000
_INC_RESUBMIT = 3_000_000

_SQL_INC_BATCH = f"""
        corpus AS (
            SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 4
        ),
        batch AS (
            SELECT doc_id + {_INC_NEW} AS new_id, lang, text
            FROM documents WHERE doc_id % 5 = 4
            UNION ALL
            SELECT doc_id + {_INC_RECRAWL} AS new_id, lang, text
            FROM documents WHERE doc_id % 5 <> 4 AND doc_id % 7 = 0
            UNION ALL
            SELECT doc_id + {_INC_RESUBMIT} AS new_id, lang, text
            FROM documents WHERE doc_id % 5 = 4 AND doc_id % 3 = 0
        )
"""

_SQL_FP = "substr(md5(regexp_replace(trim(lower({c})), '\\s+', ' ', 'g')), 1, 16)"


@register(
    "incremental_dedup",
    oracle=f"""
        WITH {_SQL_INC_BATCH},
        cfp AS (SELECT DISTINCT {_SQL_FP.format(c='text')} AS f FROM corpus),
        bfp AS (
            SELECT new_id, lang, {_SQL_FP.format(c='text')} AS f FROM batch
        ),
        classified AS (
            SELECT b.new_id, b.lang,
                   CASE
                       WHEN c.f IS NOT NULL THEN 'dup_vs_corpus'
                       WHEN b.new_id <> MIN(b.new_id) OVER (PARTITION BY b.f)
                           THEN 'dup_within_batch'
                       ELSE 'kept'
                   END AS status
            FROM bfp b LEFT JOIN cfp c ON b.f = c.f
        )
        SELECT lang,
               COUNT(*) AS batch_docs,
               CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END)
                    AS BIGINT) AS kept,
               CAST(SUM(CASE WHEN status = 'dup_vs_corpus' THEN 1 ELSE 0 END)
                    AS BIGINT) AS dup_vs_corpus,
               CAST(SUM(CASE WHEN status = 'dup_within_batch' THEN 1 ELSE 0
                        END) AS BIGINT) AS dup_within_batch
        FROM classified GROUP BY lang
    """,
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup an incoming batch against the standing corpus: fingerprint
    anti-join for corpus hits, then a min-id window within the batch
    for intra-batch dups (W1 policy). At 100 TB the corpus side is a
    pre-bucketed fingerprint index — the join is fp-keyed with the
    batch (small side) driving; Spark injects a bloom filter on the
    corpus scan under AQE. One fp shuffle + one tiny lang rollup."""
    docs = table(spark, sf_dir, "documents", fan_out=False)
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    batch = (
        docs.filter(F.col("doc_id") % 5 == 4)
        .select(
            (F.col("doc_id") + _INC_NEW).alias("new_id"), "lang", "text"
        )
        .unionAll(
            corpus.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + _INC_RECRAWL).alias("new_id"),
                "lang",
                "text",
            )
        )
        .unionAll(
            docs.filter(
                (F.col("doc_id") % 5 == 4) & (F.col("doc_id") % 3 == 0)
            ).select(
                (F.col("doc_id") + _INC_RESUBMIT).alias("new_id"),
                "lang",
                "text",
            )
        )
    )
    cfp = corpus.select(
        tx.doc_fingerprint("text").alias("f")
    ).distinct().withColumn("in_corpus", F.lit(1))
    bfp = batch.select(
        "new_id", "lang", tx.doc_fingerprint("text").alias("f")
    )
    w = Window.partitionBy("f")
    classified = bfp.join(cfp, "f", "left").select(
        "lang",
        F.when(F.col("in_corpus").isNotNull(), F.lit("dup_vs_corpus"))
        .when(
            F.col("new_id") != F.min("new_id").over(w),
            F.lit("dup_within_batch"),
        )
        .otherwise(F.lit("kept"))
        .alias("status"),
    )
    return classified.groupBy("lang").agg(
        F.count("*").alias("batch_docs"),
        F.sum((F.col("status") == "kept").cast("int")).alias("kept"),
        F.sum((F.col("status") == "dup_vs_corpus").cast("int")).alias(
            "dup_vs_corpus"
        ),
        F.sum((F.col("status") == "dup_within_batch").cast("int")).alias(
            "dup_within_batch"
        ),
    )


# --- Snapshot diff -----------------------------------------------------------
# Change-data detection between two table snapshots without a binlog:
# full outer join on the key, compare row content. Snapshot B is
# derived deterministically from A (deletes, updates, inserts) so both
# engines construct the identical pair.

_DIFF_DEL = 19  # keys % 19 == 0 deleted in B
_DIFF_UPD = 7  # keys % 7 == 0 get totalprice + 1.0 in B
_DIFF_INS = 13  # keys % 13 == 0 cloned as new keys (+10M) in B
# Snapshot A is CLAMPED to o_orderkey < _DIFF_SHIFT on both sides so
# the +_DIFF_SHIFT insert clones can never collide with a real key at
# any scale factor (TPC-H max o_orderkey = 6M x SF crosses 10M at
# SF >= 2; a collision would double-count the key in snapshot b and
# fan out the full outer join — engine-consistently, so the oracle
# could never catch it). No-op at fixture scale.
_DIFF_SHIFT = 10_000_000


@register(
    "snapshot_diff",
    oracle=f"""
        WITH b AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % {_DIFF_UPD} = 0
                        THEN o_totalprice + 1.0 ELSE o_totalprice END
                       AS o_totalprice
            FROM orders
            WHERE o_orderkey % {_DIFF_DEL} <> 0
              AND o_orderkey < {_DIFF_SHIFT}
            UNION ALL
            SELECT o_orderkey + {_DIFF_SHIFT} AS o_orderkey, o_totalprice
            FROM orders
            WHERE o_orderkey % {_DIFF_INS} = 0
              AND o_orderkey < {_DIFF_SHIFT}
        ),
        diff AS (
            SELECT CASE
                       WHEN a.o_orderkey IS NULL THEN 'added'
                       WHEN b.o_orderkey IS NULL THEN 'removed'
                       WHEN a.o_totalprice <> b.o_totalprice THEN 'changed'
                       ELSE 'unchanged'
                   END AS status,
                   COALESCE(a.o_orderkey, b.o_orderkey) AS key
            FROM (SELECT o_orderkey, o_totalprice FROM orders
                  WHERE o_orderkey < {_DIFF_SHIFT}) a
            FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
        )
        SELECT status, COUNT(*) AS cnt, CAST(SUM(key) AS BIGINT) AS key_total
        FROM diff GROUP BY status
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-vs-snapshot CDC: classify every key as added / removed
    / changed / unchanged via one full outer join. The update compare
    is exact IEEE equality on identically-derived doubles. At 100 TB
    both snapshots bucket by the key so the join is co-located
    (no shuffle when bucketing matches); output is a 4-row rollup."""
    a = (
        table(spark, sf_dir, "orders", fan_out=False)
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") < _DIFF_SHIFT)
    )
    b = (
        a.filter(F.col("o_orderkey") % _DIFF_DEL != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % _DIFF_UPD == 0,
                F.col("o_totalprice") + 1.0,
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionAll(
            a.filter(F.col("o_orderkey") % _DIFF_INS == 0).select(
                (F.col("o_orderkey") + _DIFF_SHIFT).alias("o_orderkey"),
                "o_totalprice",
            )
        )
    )
    joined = a.alias("a").join(
        b.alias("b"),
        F.col("a.o_orderkey") == F.col("b.o_orderkey"),
        "full_outer",
    )
    diff = joined.select(
        F.when(F.col("a.o_orderkey").isNull(), F.lit("added"))
        .when(F.col("b.o_orderkey").isNull(), F.lit("removed"))
        .when(
            F.col("a.o_totalprice") != F.col("b.o_totalprice"),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("key"),
    )
    return diff.groupBy("status").agg(
        F.count("*").alias("cnt"), F.sum("key").alias("key_total")
    )


# --- BM25 retrieval ----------------------------------------------------------
# Classic sparse retrieval over the corpus: per-term BM25 top-5 docs.
# The scale shape of search-index scoring: corpus stats are one
# broadcast scalar row, tf is a map-side regexp, df is a 3-row
# aggregate, and the top-k per term is a tiny partitioned window.

BM25_TERMS = ("spark", "merge", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 5

# precomputed outside the oracle f-string (py<3.12 forbids backslashes
# inside f-string expressions)
_SQL_TF_COLS = ", ".join(
    "len(regexp_extract_all(lower(text), '\\b%s\\b')) AS tf_%s" % (t, t)
    for t in BM25_TERMS
)


@register(
    "bm25_topk",
    oracle=f"""
        WITH scored_docs AS (
            SELECT doc_id,
                   CAST({_SQL_TOKEN_COUNT.format(c='text')} AS BIGINT) AS dl,
                   {_SQL_TF_COLS}
            FROM documents
        ),
        corpus AS (
            SELECT COUNT(*) AS n,
                   floor(CAST(SUM(dl) AS DOUBLE) / COUNT(*)
                         * 1e6 + 0.5) / 1e6 AS avgdl
            FROM scored_docs
        ),
        long_form AS (
            {" UNION ALL ".join(
                f"SELECT doc_id, dl, '{t}' AS term, tf_{t} AS tf"
                f" FROM scored_docs"
                for t in BM25_TERMS
            )}
        ),
        df AS (
            SELECT term,
                   SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df_cnt
            FROM long_form GROUP BY term
        ),
        idf AS (
            SELECT term,
                   floor(ln((n - df_cnt + 0.5) / (df_cnt + 0.5) + 1.0)
                         * 1e6 + 0.5) / 1e6
                       AS idf
            FROM df CROSS JOIN corpus
        ),
        bm25 AS (
            SELECT l.term, l.doc_id,
                   floor(i.idf * l.tf * ({BM25_K1} + 1.0)
                         / (l.tf + {BM25_K1} * (1.0 - {BM25_B}
                            + {BM25_B} * l.dl / c.avgdl))
                         * 1e6 + 0.5) / 1e6 AS score
            FROM long_form l
            JOIN idf i ON l.term = i.term CROSS JOIN corpus c
            WHERE l.tf > 0
        ),
        ranked AS (
            SELECT term, doc_id, score,
                   ROW_NUMBER() OVER (
                       PARTITION BY term ORDER BY score DESC, doc_id
                   ) AS rank
            FROM bm25
        )
        SELECT term, rank, doc_id, score FROM ranked
        WHERE rank <= {BM25_TOPK}
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-BM25_TOPK per query term (constants BM25_K1, BM25_B).
    Cross-engine float policy: avgdl, idf, and the final score are each
    rounded once at the same site in both engines; everything between
    the roundings is exactly-specified IEEE +,-,*,/ on
    identically-derived operands (ln is the one libm call, rounded
    immediately — the unigram_logprob_quality precedent)."""
    docs = table(spark, sf_dir, "documents")
    scored_docs = docs.select(
        "doc_id",
        tx.token_count("text").cast("long").alias("dl"),
        *[
            F.regexp_count(F.lower(F.col("text")), F.lit(rf"\b{t}\b")).alias(
                f"tf_{t}"
            )
            for t in BM25_TERMS
        ],
    )
    corpus = scored_docs.agg(
        F.count("*").alias("n"),
        qround(F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    # one scan → long form via stack (a unionAll of per-term selects
    # would re-scan documents once per term — T scans at T query terms)
    stack_args = ", ".join(f"'{t}', tf_{t}" for t in BM25_TERMS)
    long_form = scored_docs.select(
        "doc_id",
        "dl",
        F.expr(
            f"stack({len(BM25_TERMS)}, {stack_args}) AS (term, tf)"
        ),
    )
    df_counts = long_form.groupBy("term").agg(
        F.sum((F.col("tf") > 0).cast("int")).alias("df_cnt")
    )
    idf = df_counts.crossJoin(F.broadcast(corpus)).select(
        "term",
        qround(
            F.log(
                (F.col("n") - F.col("df_cnt") + 0.5)
                / (F.col("df_cnt") + 0.5)
                + 1.0
            )
        ).alias("idf"),
        "avgdl",
    )
    bm25 = (
        long_form.filter(F.col("tf") > 0)
        .join(F.broadcast(idf), "term")
        .select(
            "term",
            "doc_id",
            qround(
                F.col("idf")
                * F.col("tf")
                * (BM25_K1 + 1.0)
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        bm25.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("term", "rank", "doc_id", "score")
    )


# --- Data-quality constraint report ------------------------------------------
# Deequ-style declarative checks rendered as one small report: each
# constraint is a scalar aggregate (observed violation count) plus a
# pass flag. All integer outputs — hash-stable by construction.


@register(
    "dq_constraint_report",
    oracle="""
        SELECT 'orders_nonempty' AS constraint_name,
               CAST(COUNT(*) AS BIGINT) AS observed,
               CASE WHEN COUNT(*) > 0 THEN 1 ELSE 0 END AS passed
        FROM orders
        UNION ALL
        SELECT 'o_custkey_complete',
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CASE WHEN SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    = 0 THEN 1 ELSE 0 END
        FROM orders
        UNION ALL
        SELECT 'o_orderkey_unique',
               CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
               CASE WHEN COUNT(*) = COUNT(DISTINCT o_orderkey)
                    THEN 1 ELSE 0 END
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus_accepted',
               CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                        THEN 1 ELSE 0 END) AS BIGINT),
               CASE WHEN SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                             THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END
        FROM orders
        UNION ALL
        SELECT 'l_quantity_in_range',
               CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                        THEN 1 ELSE 0 END) AS BIGINT),
               CASE WHEN SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                             THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END
        FROM lineitem
        UNION ALL
        SELECT 'lineitem_fk_orders',
               CAST((SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
                    AS BIGINT),
               CASE WHEN (SELECT COUNT(*) FROM lineitem l
                          WHERE NOT EXISTS (SELECT 1 FROM orders o
                                            WHERE o.o_orderkey = l.l_orderkey))
                    = 0 THEN 1 ELSE 0 END
    """,
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite (Deequ-shaped): completeness,
    uniqueness, accepted values, numeric range, referential integrity.
    All four orders checks come out of ONE aggregate over one scan
    (then pivot to rows via stack), lineitem's range check is one more
    scan, and the FK check is a broadcast anti join — 3 passes total
    at 100 TB, not one per constraint (a naive per-check union re-scans
    the fact table once per constraint; Catalyst does NOT merge those
    scans)."""
    orders = table(spark, sf_dir, "orders", fan_out=False)
    lineitem = table(spark, sf_dir, "lineitem", fan_out=False)

    orders_agg = orders.agg(
        F.count("*").alias("total"),
        F.sum(F.col("o_custkey").isNull().cast("int")).alias("null_cust"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("dup_keys"),
        F.sum(
            (~F.col("o_orderstatus").isin("O", "F", "P")).cast("int")
        ).alias("bad_status"),
    )
    orders_rows = orders_agg.select(
        F.expr(
            "stack(4,"
            " 'orders_nonempty', total,"
            "     CASE WHEN total > 0 THEN 1 ELSE 0 END,"
            " 'o_custkey_complete', null_cust,"
            "     CASE WHEN null_cust = 0 THEN 1 ELSE 0 END,"
            " 'o_orderkey_unique', dup_keys,"
            "     CASE WHEN dup_keys = 0 THEN 1 ELSE 0 END,"
            " 'o_orderstatus_accepted', bad_status,"
            "     CASE WHEN bad_status = 0 THEN 1 ELSE 0 END"
            ") AS (constraint_name, observed, passed)"
        )
    )
    in_range = lineitem.agg(
        F.sum(
            ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast(
                "int"
            )
        ).alias("observed")
    ).select(
        F.lit("l_quantity_in_range").alias("constraint_name"),
        F.col("observed"),
        (F.col("observed") == 0).cast("int").alias("passed"),
    )
    orphans = (
        lineitem.join(
            F.broadcast(orders.select("o_orderkey")),
            lineitem.l_orderkey == orders.o_orderkey,
            "left_anti",
        )
        .agg(F.count("*").alias("observed"))
        .select(
            F.lit("lineitem_fk_orders").alias("constraint_name"),
            F.col("observed"),
            (F.col("observed") == 0).cast("int").alias("passed"),
        )
    )
    return orders_rows.unionAll(in_range).unionAll(orphans)


# --- Systematic PPS sampling -------------------------------------------------
# Probability-proportional-to-size sampling without an RNG and without
# floats: lay each stratum's docs on a line scaled by weight (token
# mass), then pick every doc whose weight span crosses a stride
# boundary. Inclusion probability ~ weight/stride, the sample is
# deterministic (doc_id order), and EVERYTHING is integer arithmetic —
# no rounding boundary to drift cross-engine. The training-mix
# primitive for "sample ∝ size" corpora draws.

PPS_TARGET_PER_LANG = 40


@register(
    "pps_systematic_sample",
    oracle=f"""
        WITH weighted AS (
            SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w
            FROM documents
        ),
        strata AS (
            SELECT lang,
                   GREATEST(CAST(SUM(w) AS BIGINT) // {PPS_TARGET_PER_LANG},
                            1) AS stride
            FROM weighted GROUP BY lang
        ),
        lined AS (
            SELECT wd.doc_id, wd.lang, wd.w, st.stride,
                   COALESCE(SUM(wd.w) OVER (
                       PARTITION BY wd.lang ORDER BY wd.doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_before
            FROM weighted wd JOIN strata st ON wd.lang = st.lang
        ),
        picked AS (
            SELECT * FROM lined
            WHERE (cum_before + w) // stride > cum_before // stride
        )
        SELECT lang,
               COUNT(*) AS picked_cnt,
               CAST(SUM(doc_id) AS BIGINT) AS picked_id_total,
               CAST(SUM(w) AS BIGINT) AS picked_weight_total
        FROM picked GROUP BY lang
    """,
)
def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sample of ~PPS_TARGET_PER_LANG docs per
    language, weight = n_chars. A doc is picked iff its weight span
    [cum_before, cum_before + w) crosses a stride boundary — inclusion
    chance ∝ weight, no RNG, no floats, reproducible across engines /
    partitionings / retries. One stratum-keyed window (strata count
    scales with the corpus in production — same shape note as
    sequence_packing) + a broadcast of the per-stratum strides."""
    docs = table(spark, sf_dir, "documents")
    weighted = docs.select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("w")
    )
    strata = weighted.groupBy("lang").agg(
        F.greatest(
            F.expr(f"sum(w) DIV {PPS_TARGET_PER_LANG}"), F.lit(1)
        ).alias("stride")
    )
    w_win = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lined = (
        weighted.join(F.broadcast(strata), "lang")
        .withColumn(
            "cum_before", F.coalesce(F.sum("w").over(w_win), F.lit(0))
        )
    )
    picked = lined.filter(
        F.expr("(cum_before + w) DIV stride > cum_before DIV stride")
    )
    return picked.groupBy("lang").agg(
        F.count("*").alias("picked_cnt"),
        F.sum("doc_id").alias("picked_id_total"),
        F.sum("w").alias("picked_weight_total"),
    )


# --- Arrow-optimized Python UDTF chunker (r6) ---------------------------------
# Spark's Python UDTF (SPARK-43798) is the LATERAL-join-shaped
# extension point: one input row → many output rows, computed in
# Python, consumed as a table. With useArrow=True the transport is
# Arrow batches, keeping this inside the engine's sanctioned
# Python-on-data-path family (pandas UDF / mapInPandas / mapInArrow —
# §2.10 policy; the default pickle transport would not be). The task
# mirrors chunk_stride_stats' fixed-width chunking so the two
# formulations bracket the tradeoff: pure Column exprs when the logic
# fits SQL, a UDTF when a Python tokenizer/splitter genuinely cannot
# be expressed — same oracle discipline either way.

UDTF_CHUNK = 16


@register(
    "python_udtf_chunker",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   len(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '')) AS n
            FROM documents
        ),
        chunks AS (
            SELECT doc_id,
                   s // {UDTF_CHUNK} AS chunk_idx,
                   LEAST({UDTF_CHUNK}, n - s) AS chunk_toks
            FROM toks,
                 LATERAL (SELECT unnest(generate_series(0, n - 1,
                                        {UDTF_CHUNK})) AS s)
            WHERE n > 0
        )
        SELECT chunk_idx,
               COUNT(*) AS docs,
               CAST(SUM(chunk_toks) AS BIGINT) AS toks_total
        FROM chunks GROUP BY chunk_idx
    """,
)
def python_udtf_chunker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width document chunking via an Arrow-optimized Python
    UDTF in a LATERAL join: per chunk position, document count and
    token totals. Tokenization is whitespace split of trim+lower —
    byte-identical to the oracle's regexp split on this corpus."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk_toks int", useArrow=True)
    class Chunker:
        def eval(self, text: str):
            toks = (text or "").strip().lower().split()
            n = len(toks)
            for start in range(0, n, UDTF_CHUNK):
                yield (
                    start // UDTF_CHUNK,
                    min(UDTF_CHUNK, n - start),
                )

    spark.udtf.register("r6_chunker", Chunker)
    from automatic_etl_spark.sources.parquet import register_views

    register_views(spark, sf_dir, names=("documents",), fan_out=False)
    return spark.sql(
        """
        SELECT c.chunk_idx,
               COUNT(*) AS docs,
               SUM(c.chunk_toks) AS toks_total
        FROM documents d, LATERAL r6_chunker(d.text) c
        GROUP BY c.chunk_idx
        """
    )


# --- Length-bucketed batch construction ---------------------------------------
# Packed pretraining (sequence_packing above) concatenates documents;
# inference / finetuning / embedding jobs instead PAD each batch to
# its longest member, so batching strategy decides how much compute is
# wasted on pad tokens. Bucketing documents by power-of-two length
# before batching is the standard fix; this query quantifies it.

BATCH_SIZE = 32

# Exact next-power-of-two: integer bit-length, NOT ceil(log2()) —
# log2 via libm (Spark computes ln x / ln 2) is inexact at power-of-
# two boundaries (first seen at tok = 2^29, caught by the boundary
# sweep in tests/test_ops_pack6.py) and the two engines' libm need
# not even agree with each other. bin()/length()/bitwise-AND are
# exact on both.
_SQL_NEXT_POW2 = (
    "CASE WHEN ({t} & ({t} - 1)) = 0 THEN {t} "
    "ELSE CAST(pow(2, len(bin({t}))) AS BIGINT) END"
)

_LENGTH_BUCKET_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               greatest(CAST({_SQL_TOKEN_COUNT.format(c='text')} AS BIGINT),
                        1) AS tok
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id, tok,
               {_SQL_NEXT_POW2.format(t='tok')} AS bucket_len,
               row_number() OVER (
                   PARTITION BY {_SQL_NEXT_POW2.format(t='tok')}
                   ORDER BY tok DESC, doc_id ASC
               ) AS rn
        FROM toks
    ),
    batches AS (
        SELECT bucket_len, (rn - 1) // {BATCH_SIZE} AS batch_id,
               COUNT(*) AS n_docs, MAX(tok) AS batch_max,
               CAST(SUM(tok) AS BIGINT) AS real_tokens
        FROM bucketed GROUP BY bucket_len, (rn - 1) // {BATCH_SIZE}
    )
    SELECT bucket_len,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           COUNT(*) AS n_batches,
           CAST(SUM(real_tokens) AS BIGINT) AS real_tokens,
           CAST(SUM(batch_max * n_docs) AS BIGINT) AS padded_tokens,
           floor((CAST(SUM(batch_max * n_docs) AS DOUBLE)
                  / SUM(real_tokens) - 1) * 1e6 + 0.5) / 1e6
               AS pad_overhead
    FROM batches GROUP BY bucket_len
"""


@register("length_bucket_batching", oracle=_LENGTH_BUCKET_ORACLE)
def length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pad-waste accounting for length-bucketed batching: documents
    fall into power-of-two token-length buckets, each bucket is cut
    into batches of BATCH_SIZE in length-descending order, every batch
    pads to its longest member. Per bucket: batch count, real vs
    padded token mass, and the pad overhead ratio.

    Scale shape: one narrow pass computes token counts, ONE hash
    shuffle partitions by bucket for the row_number window (≤ ~30
    buckets exist, but each holds a length-sorted run — at 100 TB add
    a salt digit to the partition key and renumber per salt, exactly
    the skew_salted_agg recipe), then two map-side-combinable aggs.
    The bucket function is EXACT integer bit-length arithmetic — the
    obvious ceil(log2(tok)) was rejected because libm log2 misplaces
    the 2^29 boundary on Spark's side (caught by the exhaustive
    power-of-two sweep in tests/test_ops_pack6.py) and the engines'
    libm results need not agree with each other."""
    docs = table(spark, sf_dir, "documents", fan_out=False)
    toks = docs.select(
        "doc_id",
        F.greatest(
            tx.token_count("text").cast("bigint"), F.lit(1).cast("bigint")
        ).alias("tok"),
    )
    t = F.col("tok")
    bucket_len = F.when(t.bitwiseAND(t - 1) == 0, t).otherwise(
        F.pow(F.lit(2.0), F.length(F.bin(t))).cast("bigint")
    )
    bucketed = toks.select(
        "doc_id", "tok", bucket_len.alias("bucket_len")
    ).select(
        "doc_id", "tok", "bucket_len",
        F.row_number()
        .over(
            Window.partitionBy("bucket_len").orderBy(
                F.desc("tok"), F.asc("doc_id")
            )
        )
        .alias("rn"),
    )
    batches = bucketed.groupBy(
        "bucket_len",
        F.call_function(
            "div", (F.col("rn") - 1).cast("long"), F.lit(BATCH_SIZE).cast("long")
        ).alias("batch_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("tok").alias("batch_max"),
        F.sum("tok").cast("bigint").alias("real_tokens"),
    )
    return batches.groupBy("bucket_len").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_batches"),
        F.sum("real_tokens").cast("bigint").alias("real_tokens"),
        F.sum(F.col("batch_max") * F.col("n_docs"))
        .cast("bigint")
        .alias("padded_tokens"),
        qround(
            F.sum(F.col("batch_max") * F.col("n_docs")).cast("double")
            / F.sum("real_tokens")
            - 1
        ).alias("pad_overhead"),
    )

#!/usr/bin/env python
"""10x scale-stress harness (VERDICT r4 #6): measure wall-time scaling
of the five scale-critical pipelines between sf0.1 and an sf1-ish
corpus built by replicating the sf0.1 fixtures 10x.

Replication is structure-preserving so work should scale LINEARLY by
construction, and any superlinear wall-time is a plan defect:
- documents: replica r shifts doc_id by r*69,300 (r10 fix — the old
  r*10M shift pushed every replica above the dedup corpora's
  ``doc_id < PLANT_OFFSET`` (1M) clamp, so the minhash/CC-family
  stress rows through r9 measured a CONSTANT corpus; 69,300 is
  divisible by every doc_id modulus the plans use except %97 and
  keeps all replica ids under the clamp) and rotates the lowercase
  alphabet of ``text`` by r, so replicas are NOT near-dups of each
  other — duplicate-group sizes stay constant, group count scales
  10x. n_chars is preserved by construction (rotation is 1:1).
- embeddings: replica r shifts vec_id by r*10M, vectors unchanged.
  NOTE: 10M % 100 == 0, so the ``vec_id % 100`` query set ALSO scales
  10x — the expected IVF work model is (queries x probed-list size),
  i.e. ~100x compute upper bound for ann_ivf_topk, ~10x if probe cost
  is dominated by per-query constant factors. Reported as-is.
- events: replica r shifts event_id by r*10M and user_id by r*100k
  (distinct upsert keys scale linearly -> linear state).
- orders (round 7): replica r shifts o_orderkey by r*12M — divisible
  by lcm(2,3,10,16)=240, so the MERGE source/target/delete classes
  (%2, %3, %10) and the checksum buckets (%16) recur identically per
  replica; the %97-miss / %89-corrupt drift classes keep their density
  on any contiguous key range. o_custkey shifts by r*1.43M in lockstep
  with customer.
- customer (round 7): replica r shifts c_custkey by r*1,430,000 —
  divisible by 11*13=143, so the late (%11) and never-arriving (%13)
  dimension classes recur identically per replica and the orders FK
  stays consistent.
- lineitem (round 9): replica r shifts l_orderkey by r*12M in
  LOCKSTEP with orders, closing the l_orderkey -> o_orderkey FK per
  replica; l_partkey / l_suppkey stay unshifted because part /
  supplier remain plain 1x copies (dimension tables — broadcast-sized
  at any corpus scale), so those FKs stay closed too. This brings the
  lineitem-driven BI headliners (shipping_priority, pricing_summary,
  revenue_by_nation) into the 10x record (VERDICT r8 #4).

Each measurement runs in a FRESH JVM per sample (tools/measure.py,
the same discipline as bench.py), warmed on sf0.001 immediately
before timing.

Usage:
    python tools/scale_stress.py            # build + measure + report
    python tools/scale_stress.py --build    # stage /tmp/sfstress10 only
"""

from __future__ import annotations

import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE_DIR = "/root/testdata/sf0.1"
STRESS_DIR = "/tmp/sfstress10"
REPLICAS = 10
SHIFT = 10_000_000

# Per-column replica shifts (r12 ADVICE: named constants, imported by
# tests/test_scale_stress_shift.py's _KEY_SHIFTS so the census can
# never drift from the harness). Rationale for each value lives in the
# module docstring and the mut_* functions below.
EVENT_USER_SHIFT = 100_000     # events.user_id
ORDERKEY_SHIFT = 12_000_000    # orders.o_orderkey + lineitem.l_orderkey
CUSTKEY_SHIFT = 1_430_000      # customer.c_custkey + orders.o_custkey

# documents uses its OWN shift (r10 find): the dedup/curation corpus
# builders clamp `doc_id < PLANT_OFFSET` (1M) to keep the planted id
# spaces collision-free, so the old r*10M shift pushed every replica
# ABOVE the clamp and the minhash/CC-family stress rows (r8 "1.04x",
# "1.2x") measured a CONSTANT corpus. 69,300 = lcm(3,5,7,9,10,11,20,50)
# — every PLANTED-class doc_id modulus recurs per replica — and is
# divisible by 100; replica ids stay in [0, 629k), under the clamp and
# clear of the +1M/+2M planted spaces, so the clamped corpora now
# genuinely scale 10x. Two deliberate non-recurring moduli (r11 ADVICE
# — the exemption list is pinned in tests/test_scale_stress_shift.py):
# %97 (BENCH_MOD/EVAL_MOD) rotates per replica but keeps class density
# on any contiguous range, exactly as under the old shift; %8
# (PACK_BUCKETS, sequence_packing) is a uniform sharding bucket, not a
# planted class — 69,300 % 8 == 4 rotates bucket labels (bucket b gets
# 5·c(b)+5·c(b−4 mod 8) instead of 10·c(b)) but total and per-bucket
# work still scale ~linearly. lcm-with-8 (138,600) is NOT an option:
# 9×138,600 = 1,247,400 would cross the 1M clamp. Replica texts stay
# non-dups via the alphabet rotation (every sf0.1 doc contains
# lowercase).
DOC_SHIFT = 69_300

QUERIES = (
    "minhash_lsh_dedup",
    "dedup_connected_components",
    "dedup_cc_pointer_doubling",  # r10: the O(log d) hook+compress
                                  # variant — its whole pitch is a
                                  # scale claim; same outputs as the
                                  # row above by contract
    "ann_ivf_topk",
    "streaming_upsert_partitioned_pipe",
    "curation_funnel",
    # round-5 additions: the new pack's shuffle-heavy shapes
    "boilerplate_ngrams",   # gram-keyed DF aggregate (zipfian skew)
    "incremental_dedup",    # fp-keyed join batch-vs-corpus
    "sequence_packing",     # per-bucket window sort (fixed 8 buckets
                            # locally; bucket count scales with the
                            # cluster in production)
    "bm25_topk",            # stack long-form + per-term rank
    "funnel_conversion",    # three chained user-keyed aggregates
    "retention_cohorts",    # user-keyed min + cohort rollup
    "variant_props_stats",  # parse_json/variant map-side pass
    # round-5 second pack
    "repeated_window_dedup",  # gram-keyed explode + two hash shuffles
    "chunk_stride_stats",     # pure per-row array exprs (linear floor)
    "outlier_iqr_report",     # value-compressed quantile windows
    "semdedup_prune",         # intra-cluster pairs: with the FIXED seed
                              # centroid set, cluster sizes scale 10x so
                              # pair work is ~100x — the published scale
                              # path is k ∝ N (finer clusters), same
                              # caveat class as ann_ivf_topk above
    "pagerank_two_iter",      # edge build shares semdedup's caveat
                              # (fixed 8 sign buckets → ~100x pairs);
                              # the PR iterations themselves are O(E);
                              # the buckets-∝-N production path is the
                              # @scaled_buckets row at the end
    "bpe_merge_mining",       # corpus → word-freq table → pair counts
    "embedding_decontaminate",  # corpus x broadcast eval (both ~10x:
                                # the vec_id shift rotates %97 classes)
    "winsorize_stats",        # value-compressed quantiles + clamp agg
    "scd2_point_in_time_join",  # key-co-partitioned interval join
    "value_histogram_equidepth",  # multi-prob quantile + broadcast cuts
    "cluster_top_terms",        # assignment join + gram agg + rank
    "streaming_dq_gate",        # foreachBatch per-batch scalar aggs
    # round-6 pack
    "null_safe_quantiles",      # value-compressed quantiles + NULL mask
    "minhash_jaccard_calibration",  # candidate-keyed estimate/exact join
    "substring_decontaminate",  # corpus scan x broadcast spans (spans
                                # scale 10x with the id shift -> ~100x
                                # contains probes upper bound; per-row
                                # scan cost dominates locally)
    "zipf_slope_by_lang",       # vocab-keyed agg + bounded rank window
    "ann_recall_report",        # brute truth x IVF approx (query set
                                # scales 10x -> same caveat class as
                                # ann_ivf_topk)
    "mad_robust_scale",         # two chained value-compressed quantile
                                # passes (distinct-value frames)
    "sorted_array_agg",         # user-keyed collect + canonical sort
                                # (per-user arrays stay constant-size)
    "recursive_hierarchy_rollup",  # depth-bounded recursion; anc rows
                                   # scale with users x digits
    # round-6 discovery pack (events/documents-based members; the
    # TPC-H-table members aren't replicated by this harness)
    "event_transition_matrix",  # per-user lag windows: user count
                                # scales 10x, per-user window constant
    "column_entropy_profile",   # value-keyed aggregates over bounded
                                # categorical domains (constant-size
                                # final frames at any corpus scale)
    # round-6 mixing pack (all documents-based)
    "temperature_mix_allocation",  # source-keyed agg + broadcast total
    "effective_token_report",      # (source, text-hash) dedup agg +
                                   # source rollup
    "quality_dedup_correlation",   # text-hash dup counts joined back
                                   # on the hash they were built on
    # round-6 profiling pack (documents/embeddings members)
    "oov_rate_report",          # bounded top-K vocab broadcast onto
                                # the token stream
    "label_centroid_outliers",  # (label, dim)-keyed centroid + per-vec
                                # distance; labels fixed, vectors x10
    # late-r6 production-ops pack (orders/customer are replicated by
    # this harness since r7 — merge_three_way / checksum_repair_plan /
    # late_dimension_backfill are stressed below with the rest)
    "ewma_anomaly_report",      # rank-range self-join: users x10,
                                # per-user timeline constant -> fixed
                                # xK row growth scales linearly
    "length_bucket_batching",   # fixed bucket count, per-bucket
                                # window runs x10 rows
    "gopher_rules_report",      # narrow codegen map + source agg
                                # (linear floor)
    "mmr_diversified_topk",     # k passes over a 10x candidate pool,
                                # broadcast selected set constant
    "map_delta_report",         # users x10, per-user map bounded by
                                # the type domain
    "surrogate_key_assignment", # range exchange + local ranks; the
                                # offsets frame stays |SK_PARTS| rows
    "minmax_skipping_audit",    # narrow double-layout projection +
                                # (layout x bucket)-keyed agg, <=32
                                # groups at any scale
    # (dynamic_partition_overwrite_agg is write-bound — replication
    # does not change its shape; the files-untouched unit covers it)
    "bigram_logprob_quality",   # two zipfian-keyed joins over the
                                # bigram stream (vocab x10 with the
                                # alphabet rotation)
    "watermark_lateness_audit", # fixed 24-batch frame; event stream
                                # never shuffles before the 3-key agg
    "ks_drift_test",            # value-compressed cumulative windows
                                # (distinct values per type, not rows)
    "id_completeness_audit",    # bucket-keyed counts vs arithmetic
                                # capacity; id range x10 -> buckets x10
    "kaplan_meier_survival",    # user-keyed aggs x10 users; KM table
                                # stays <=3 rows
    "peak_concurrency_report",  # boundary stream x10; local windows
                                # bounded by (type, hour-slice)
    "sparse_cosine_pairs",      # df-band-pruned inverted index; the
                                # alphabet rotation keeps replica
                                # vocabularies disjoint -> pair work
                                # scales linearly with replicas
    # round-8: the remaining bench top-10 headliners (VERDICT r7 #7a —
    # the sf1-scale bench rows; shipping_priority is excluded, its
    # lineitem input is not replicated by this harness)
    "near_dup_canonical",       # the LSH front + CC + survivor agg;
                                # planted chain classes recur per
                                # replica (DOC_SHIFT % 20 == 0; r10:
                                # replicas now actually pass the
                                # doc_id < PLANT_OFFSET corpus clamp)
    "stream_stream_join",       # two watermarked streams; user_id
                                # shift keeps join-key density constant
    "minhash_lsh_matview",      # r10: the write-once signature table —
                                # its whole claim is a SCALE claim
                                # (signatures written once at ~1% corpus
                                # size, both consumers scan the matview,
                                # never documents); expected ~linear:
                                # signature build is per-doc, band join
                                # is bounded by the capped buckets
    "minhash_lsh_capped",       # r10: the max_bucket_size drop-and-
                                # REPORT path — whether the cap
                                # engages and bounds pair work is
                                # precisely a 10x question
    "kmeans_two_iter",          # two exact unrolled iterations over a
                                # 10x vector set, centroid frame fixed
    "cdc_unwrap_dedup",         # Debezium unwrap + LWW dedup over a
                                # 10x event envelope stream
    "simhash_buckets",          # per-doc signature + bucket agg; the
                                # alphabet rotation keeps replica
                                # vocabularies disjoint, but the
                                # 16-bit signature space pigeonholes
                                # 15k docs into partially shared
                                # buckets (r10 probe: max_bucket
                                # 202->350) — agg stays bucket-keyed
    # round-8: the two event-table pipelines whose plans changed this
    # round (union-then-aggregate audit; broadcast scalar share)
    "ingest_e2e",               # clean->window-dedup->write->1-shuffle
                                # NULL-safe audit; users x10 -> linear
    "value_share_groups",       # per-user rollup + broadcast 1-row
                                # total (was an unpartitioned window)
    # round-7: orders/customer replication (VERDICT r6 #4) brings the
    # three previously fingerprint-pinned pipelines into the harness
    "merge_three_way",          # one full-outer SMJ on the merge key;
                                # target/source/delete classes recur
                                # per replica (shift % 240 == 0)
    "checksum_repair_plan",     # bucket checksums + row re-check of
                                # mismatched buckets; at the planted
                                # drift density every bucket diverges,
                                # so the re-check is a full linear pass
                                # at both scales (worst case by design)
    "late_dimension_backfill",  # fact scan x two broadcast key-sets;
                                # dim key-sets scale 10x but stay
                                # broadcast-sized (143-preserving shift
                                # keeps late/never classes identical)
    # round-9: lineitem replication (VERDICT r8 #4) brings the
    # lineitem-driven BI headliners into the record
    "shipping_priority",        # customer x orders x lineitem join +
                                # top-N; order-key shuffle x10, output
                                # shape constant
    "pricing_summary",          # one lineitem scan + 6-group agg
                                # (map-side combine; linear floor)
    "revenue_by_nation",        # star join over replicated facts and
                                # 1x broadcast dims
    # round-9: the pagerank scale-model row (VERDICT r8 #5) — buckets
    # scaled WITH the corpus (8 at sf0.1 -> 64 at 10x, buckets ∝ N),
    # the production path that keeps in-bucket pair work linear; the
    # plain pagerank_two_iter row above keeps the fixed-bucket default
    # for comparison
    "pagerank_two_iter@scaled_buckets",
    # round-11 (VERDICT r10 #4): the one driver-bench headliner without
    # a 10x row. The query's universe is SYNTHETIC (rows/batch options
    # on the custom Python stream source; sf_dir unused), so its 10x is
    # rows x10 at the same batch size — 40 offset windows of 500 vs 4.
    # Work model: per-row Python cost dominates (pickle/iterate in the
    # source's read()), plus a constant per-micro-batch planning cost,
    # so expect ~LINEAR wall (factor ~10 minus the amortized constant
    # term) — unlike the JVM paths this row is NOT expected sublinear;
    # at 100x the same pipeline moves to the JVM Kafka source (the
    # documented production path, sources/kafka.py).
    "python_stream_source_totals@10x_rows",
)

# Rows that are a registry query under a NON-default configuration:
# name -> callable(spark, sf_dir). The registry keeps (spark, sf_dir)
# signatures and pinned oracles; these rows exist to measure a scale
# knob the oracle deliberately does not vary.


def _pagerank_scaled_buckets(spark, sf_dir):
    from automatic_etl_spark.operators import similarity as sim
    from automatic_etl_spark.plans.enrichment_plans import (
        pagerank_two_iter,
    )

    # buckets ∝ N: 3 planes (8 buckets) at base scale, 6 planes (64)
    # on the 10x corpus — per-bucket membership stays ~constant, so
    # the blocked pair join scales linearly instead of quadratically
    planes = (
        sim.make_planes(6) if sf_dir == STRESS_DIR else sim.DEFAULT_PLANES
    )
    return pagerank_two_iter(spark, sf_dir, planes=planes)


def _pyds_stream_scaled(spark, sf_dir):
    from automatic_etl_spark.plans.cdc_plans import (
        PYDS_STREAM_BATCH,
        PYDS_STREAM_ROWS,
        python_stream_source_totals,
    )

    rows = PYDS_STREAM_ROWS * (10 if sf_dir == STRESS_DIR else 1)
    return python_stream_source_totals(
        spark, sf_dir, rows=rows, batch=PYDS_STREAM_BATCH
    )


SPECIAL = {
    "pagerank_two_iter@scaled_buckets": _pagerank_scaled_buckets,
    "python_stream_source_totals@10x_rows": _pyds_stream_scaled,
}

_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _rot_text(series, r: int):
    if r == 0:
        return series
    rot = _ALPHA[r:] + _ALPHA[:r]
    trans = str.maketrans(_ALPHA, rot)
    return series.map(lambda s: s.translate(trans) if s is not None else None)


def build_stress_dir() -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(STRESS_DIR, exist_ok=True)
    for name in ("region", "nation", "supplier", "part"):
        dst = os.path.join(STRESS_DIR, f"{name}.parquet")
        if not os.path.exists(dst):
            shutil.copy(os.path.join(BASE_DIR, f"{name}.parquet"), dst)

    def col_max(path: str, col: str):
        # Footer row-group statistics give the max without scanning
        # data (the staged lineitem key column alone is ~6M values);
        # fall back to a real scan only if a writer omitted stats.
        pf = pq.ParquetFile(path)
        md = pf.metadata
        idx = next(i for i in range(md.num_columns)
                   if md.schema.column(i).name == col)
        maxes = []
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(idx).statistics
            if stats is None or not stats.has_min_max:
                import pyarrow.compute as pc
                return pc.max(pq.read_table(path, columns=[col])[col]).as_py()
            maxes.append(stats.max)
        return max(maxes)

    def key_stale(name: str, dst: str, key_shifts: dict) -> bool:
        # EXACT staleness probe, generalized from the r11 docs_stale
        # (r12 ADVICE): a staged file built with ANY other shift — a
        # historical value OR a future constant change that keeps the
        # row count at 10x — has the wrong max key on some shifted
        # column, so comparing against the value the CURRENT constants
        # imply catches the silent-constant-corpus class on EVERY
        # replicated key column, not just doc_id.
        base_path = os.path.join(BASE_DIR, f"{name}.parquet")
        for col, shift in key_shifts.items():
            if col_max(dst, col) != \
                    col_max(base_path, col) + (REPLICAS - 1) * shift:
                return True
        return False

    def replicate(name: str, mutate, key_shifts: dict) -> None:
        dst = os.path.join(STRESS_DIR, f"{name}.parquet")
        if os.path.exists(dst):
            # r7 migration: orders/customer used to be PLAIN COPIES
            # (pre-replication rounds staged them 1x); rebuild any
            # replicated table whose staged row count is not 10x base.
            # key_stale (r10 docs-only, r12 all tables): extra probe
            # for staged files whose row count is right but whose
            # content predates a shift-constant change.
            base_rows = pq.ParquetFile(
                os.path.join(BASE_DIR, f"{name}.parquet")
            ).metadata.num_rows
            if pq.ParquetFile(dst).metadata.num_rows == REPLICAS * base_rows \
                    and not key_stale(name, dst, key_shifts):
                return
            os.remove(dst)
        src = pq.read_table(os.path.join(BASE_DIR, f"{name}.parquet"))
        copies = []
        for r in range(REPLICAS):
            df = src.to_pandas()
            mutate(df, r)
            copies.append(pa.Table.from_pandas(df, schema=src.schema,
                                               preserve_index=False))
        pq.write_table(pa.concat_tables(copies), dst)

    def mut_docs(df, r):
        df["doc_id"] = df["doc_id"] + r * DOC_SHIFT
        df["text"] = _rot_text(df["text"], r)

    def mut_emb(df, r):
        df["vec_id"] = df["vec_id"] + r * SHIFT

    def mut_events(df, r):
        df["event_id"] = df["event_id"] + r * SHIFT
        df["user_id"] = df["user_id"] + r * EVENT_USER_SHIFT

    # lcm(2,3,10,16)=240 | 12M: MERGE clause classes and checksum
    # buckets recur per replica; 143 | 1.43M: late(%11)/never(%13)
    # dimension classes recur, and orders.o_custkey shifts in
    # lockstep with customer.c_custkey so the FK stays closed.
    def mut_orders(df, r):
        df["o_orderkey"] = df["o_orderkey"] + r * ORDERKEY_SHIFT
        df["o_custkey"] = df["o_custkey"] + r * CUSTKEY_SHIFT

    def mut_customer(df, r):
        df["c_custkey"] = df["c_custkey"] + r * CUSTKEY_SHIFT

    # l_orderkey shifts in lockstep with o_orderkey so the fact->order
    # FK closes per replica; part/supplier keys stay unshifted against
    # the plain 1x dimension copies. (r9 migration: lineitem was a
    # plain copy through r8 — replicate()'s row-count check rebuilds
    # a stale staged file automatically.)
    def mut_lineitem(df, r):
        df["l_orderkey"] = df["l_orderkey"] + r * ORDERKEY_SHIFT

    replicate("documents", mut_docs, {"doc_id": DOC_SHIFT})
    replicate("embeddings", mut_emb, {"vec_id": SHIFT})
    replicate("events", mut_events,
              {"event_id": SHIFT, "user_id": EVENT_USER_SHIFT})
    replicate("orders", mut_orders,
              {"o_orderkey": ORDERKEY_SHIFT, "o_custkey": CUSTKEY_SHIFT})
    replicate("customer", mut_customer, {"c_custkey": CUSTKEY_SHIFT})
    replicate("lineitem", mut_lineitem, {"l_orderkey": ORDERKEY_SHIFT})


def main() -> None:
    # An unrecognized flag must not silently fall through to the
    # build-and-measure path: `--help` once cost a stray staging JVM
    # (r13). Known flags only; anything else dash-prefixed is an error.
    unknown = [a for a in sys.argv[1:]
               if a.startswith("-") and a not in ("--build",)]
    if unknown:
        sys.exit(f"unknown flag(s) {unknown}; usage:\n"
                 "  python tools/scale_stress.py [names...]  "
                 "# build + measure + report\n"
                 "  python tools/scale_stress.py --build     "
                 "# stage the stress corpus only")

    build_stress_dir()
    if "--build" in sys.argv:
        print(f"staged {STRESS_DIR}")
        return

    from tools.measure import artifact, fresh_jvm_samples

    # optional positional query names: measure only those
    wanted = [a for a in sys.argv[1:] if not a.startswith("-")]
    names = [n for n in QUERIES if not wanted or n in wanted]

    loadavg_start = list(os.getloadavg())
    report = {}
    for name in names:
        row = {}
        for label, sf_dir in (("sf0.1", BASE_DIR), ("10x", STRESS_DIR)):
            row[label] = fresh_jvm_samples(name, sf_dir, 1, timeout=3600)
        if row["sf0.1"]["min"] and row["10x"]["min"]:
            row["factor"] = round(row["10x"]["min"] / row["sf0.1"]["min"], 2)
        report[name] = row
        print(f"{name}: {row}", file=sys.stderr)
    print(json.dumps(artifact(report, "fresh-jvm-per-sample", STRESS_DIR,
                              1, loadavg_start), indent=2))


if __name__ == "__main__":
    main()

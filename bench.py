"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully materialized via the built-in noop sink
(`df.write.format("noop")` — computes every column of every row,
discards the result; spark_optimization_guide §1.4), so the number
reflects scan+shuffle+compute exactly once. r6 measurement fix,
documented in OPTIMIZATION_r06.md: the previous timed action was
`df.count()` followed by `df.limit(10).collect()`, which executed the
whole physical plan TWICE per timed rep (the collect re-runs
everything below the final operator) and additionally let count()
prune columns the real query computes.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from patterns_devkit_spark.queries import QUERIES  # noqa: E402
from patterns_devkit_spark.session import get_spark  # noqa: E402

# Headline set: the scan/join/agg/window/topk core + the north-star
# operators that matter at scale. (SDK ops are covered by tests; the
# bench measures query throughput.)
BENCH_QUERIES = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_volume",
    "q06_forecast_revenue",
    "q08_outer_join_agg",
    "q11_count_distinct",
    "q13_cube",
    "q15_window_rank",
    "q17_window_frames",
    "q18_topk",
    "q22_datetime_funcs",
    "q29_tumbling_window",
    "q31_sessionize",
    "q32_asof_join",
    "q33_dedup_exact",
    # the SCALE-SAFE n-gram pipeline (exact-dedup pre-pass + stop-shingle
    # cap + threshold) is the benched representative; q34's uncapped
    # pairwise form stays registered for correctness only
    "q63_dedup_pipeline",
    "q37_cosine_topk",
    "q56_cosine_topk_np",
    "q40_text_stats",
    # curation stage (LLM training-data pipeline representatives)
    "q73_contamination",
    "q76_int8_cosine",
    "q78_curation_pipeline",
    # analytics batch: vocabulary-blocked fuzzy matching, span-level dup
    # profiling, integer-exact outliers, sequence mining
    "q90_fuzzy_match",
    "q91_span_dedup",
    "q93_zscore_outliers",
    "q94_sequence_mining",
    # round-2b training-data representatives: positional fingerprints,
    # LSH-generate -> edit-distance-verify dedup, chunking
    "q96_winnowing",
    "q106_dedup_verify",
    "q108_chunking",
    # pipeline-depth batch: bucketed range join, grid resample with
    # exact-rational interpolation, aggregate-only constraint audit,
    # iterative integer PageRank
    "q115_interval_join",
    "q117_resample_interp",
    "q120_constraint_audit",
    "q123_pagerank",
    # scale-pattern batch: runtime bloom pruning before the join,
    # mergeable-bitmap distinct with a rolling OR window, triangle
    # count on the support-sparsified co-purchase graph
    "q159_bloom_prune",
    "q164_bitmap_distinct",
    "q165_triangle_count",
    # round-3 batch: MinHash estimator calibration (LSH candidates +
    # exact shingle Jaccard), token-budget curation on the two-pass
    # partitioned prefix sum
    "q189_minhash_calibration",
    "q191_token_budget",
    # sketch batch: mergeable count-min heavy hitters over the token
    # stream, embedding-cluster SemDeDup (corpus-scaled k-means,
    # k = max(16, n/1000): cluster-bounded pairwise at any corpus size)
    "q195_countmin_heavy_hitters",
    "q197_semdedup",
    # PPJoin scale control: t=0.8 prefix budget (5x smaller prefixes,
    # ~25x fewer candidates than q206's t=1/2 on bounded vocabularies)
    "q259_prefix_filter_t80",
    # entity resolution: blocked Fellegi-Sunter record linkage (equi-
    # join blocking, integer log-odds scoring, per-id best-match)
    "q260_record_linkage",
    # corpus-scaled IVF ANN (nlist = n/256, GEMM assignment) and the
    # CCNet-style per-source line-frequency boilerplate strip
    "q66_ivf_topk",
    "q262_boilerplate_lines",
    # compressed ANN: flat product quantization (ADC + exact re-rank)
    # and the composed IVF-PQ residual layout (probed cells x 8-byte
    # codes — the billion-vector memory shape)
    "q263_pq_ann",
    "q264_ivfpq_ann",
    # corpus batch: DSIR hashed-ngram importance weighting (broadcast
    # 4096-bucket weight table over the token scan)
    "q201_dsir_importance",
    # profiling batch: substring-level dup-span audit (hash-before-
    # shuffle n-grams), exact quantile selection (two-pass histogram
    # narrowing, no global sort), max drawdown (two-pass prefix sum +
    # global running max)
    "q209_dup_span_coverage",
    "q215_exact_quantile_select",
    "q220_max_drawdown",
    # statistics batch: exact two-sample KS (two two-pass ECDF sweeps
    # over the value domain), Poisson bootstrap CI (replicate explode
    # into one map-side-combined agg, affine-LCG draws)
    "q248_ks_two_sample",
    "q254_poisson_bootstrap",
    "sdk02_upsert",  # engine write path: full-table MERGE + version flip
    "sdk06_upsert_partitioned",  # bounded rewrite: touched partition only, rest hardlinked
    "sdk14_upsert_skewed",  # adversarial: one hot partition takes 90% of the update batch
    "sdk18_merge_on_read_upsert",  # DV MERGE: scattered 1% update+insert, zero rewrite
    "sdk07_compact",  # maintenance: 4-file hot append table -> 1 coalesced file
    # r6: metadata-write latency tracked like MERGE (VERDICT r5 item 8)
    "sdk16_delete_vectors",  # DV DELETE: mask-only commit, files carried untouched
    "sdk20_branch_merge",  # branch fork + divergent writes + CDC merge to main
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so timings measure the
    # queries, not first-touch JIT
    QUERIES["q18_topk"](spark, sf_dir).collect()

    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        fn = QUERIES[name]
        best, n = None, 0
        # one UNTIMED warm-up execution per query: first runs are 2-5x
        # inflated on this host (codegen JIT + shuffle-service warm-up,
        # quantified SCALE.md) and best-of-N without it manufactured the
        # r5 round-over-round scare (VERDICT r5 what's-wrong 3)
        spark.sparkContext.setJobDescription(f"bench:{name}")
        df = fn(spark, sf_dir)
        n = df.count()
        df.limit(10).collect()
        for _ in range(3):  # steady-state: best of 3 (JIT warm; robust to CPU-contention noise)
            # drop DataFrame caches from the warm-up/previous reps:
            # several operators persist() intermediate frames, and
            # Spark's CacheManager substitutes a cached relation into
            # ANY later plan with the same canonical subtree — without
            # this, reps 2-3 (and rep 1, via the warm-up) would read
            # the expensive subtree from cache instead of computing it,
            # i.e. result reuse across timed runs (r6 measurement fix;
            # every timed rep must compute from the parquet inputs)
            spark.catalog.clearCache()
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.time() - t0
            best = elapsed if best is None else min(best, elapsed)
        spark.sparkContext.setJobDescription(None)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Dump formatted physical plans.

Without arguments, regenerate PLANS.md: the formatted physical plan of
each scale-critical query at sf0.001, with the property each plan is
expected to exhibit (the same properties tests/test_plan_properties.py
pins). Run after plan-affecting changes:

    python scripts/dump_plans.py

With ``--round N``, dump ``.explain("formatted")`` of every headline
query to plans/r<N>/<name>_<suffix>.txt (suffix = before|after), the
per-round before/after evidence of an optimization round. The
``R<N>_PLANS_ONLY`` environment variable (comma-separated names)
limits the dump to those queries:

    python scripts/dump_plans.py --round 14 before <sf_dir>
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: query -> the property a reviewer should see in the plan
SHOWCASE = {
    "pricing_summary": "filter pushed to scan; pruned ReadSchema; "
                       "two-phase HashAggregate",
    "revenue_by_nation": "all dims broadcast; no SortMergeJoin",
    "temporal_join_agg": "version-windowed dim broadcasts; ≤2 exchanges",
    "temporal_join_binned": "interval join as equi-join on (key, bin); "
                            "no nested loop",
    "scd2_versions": "ONE exchange reused by both SCD2 window columns",
    "top_revenue_orders": "TakeOrderedAndProject (no global window)",
    "ann_topk": "broadcast query vector; TakeOrderedAndProject tail",
    "minhash_lsh_pairs": "band-hash equi-joins; no CartesianProduct",
    "dedup_clusters": "star-contraction; no global sort",
    "kmeans_clusters": "cogrouped Arrow exact-argmin assignment; "
                       "centroid table fans out via range crossJoin "
                       "(no CartesianProduct, no O(k) driver state)",
    "minhash_lsh_capped": "two-pass hot-bucket cap: size agg + "
                          "prefix-closed md5 prefilter + ONE ranked "
                          "window pass carrying rank and survivor "
                          "count; broadcast-semi re-rank of "
                          "expected-empty deficient buckets",
    "semdedup_sharded": "two-level: fixed-k coarse BLAS argmin → "
                        "per-cell cogrouped assignment → grouped-Gram "
                        "pair scan; no self-join, no CartesianProduct",
    "exact_substring_spans": "rolling K-gram explode (linear) → "
                             "map-side-combined shared-gram agg → "
                             "broadcast join back → per-doc islands "
                             "window; no suffix sort, no pairwise work",
    "pq_ann_topk": "grouped one-pass codebook training + "
                   "broadcast-codebook encode + ADC lookup join; no "
                   "CartesianProduct",
    "pq_ann_rerank": "ADC top-refine shortlist + exact quantized-L2 "
                     "re-rank of refine rows; the exact pass joins "
                     "the 100-row shortlist back, never rescans",
    "funnel_conversion": "K funnel steps = K groupBy-min cascades "
                         "keyed on user_id (map-side combinable); no "
                         "per-user sort window, no CartesianProduct",
    "kmv_overlap": "pair estimation = k-row sketches × sources "
                   "broadcast; exact audit is the only data-scale "
                   "join; no CartesianProduct",
    "ann_sq8_topk": "per-dim stats broadcast + integer dequant "
                    "distance; one groupBy + TakeOrdered, no "
                    "CartesianProduct beyond the 1-row query "
                    "broadcast",
    "interpolate_daily": "spine join + forward/backward ignore-nulls "
                         "windows on ONE exchange; no self-join "
                         "against the observation table",
    "kmv_overlap_serving": "the sketch-only serving plan: NO shuffle "
                           "join at all (broadcast source-list "
                           "fan-out is the only join) — pair "
                           "estimation stays metadata-sized",
    "bpe_vocab_sampled": "sample-trained merges applied to the FULL "
                         "corpus word table as pad-once chained "
                         "replaces; one corpus word-count shuffle, "
                         "everything after is vocabulary-sized",
    "ivfpq_ann_topk": "coarse assign + residual codebooks + per-cell "
                      "ADC table + exact top-200 refine; crossJoins "
                      "are ≤cells-row metadata broadcasts only",
    "simhash_hamming_pairs": "d+1 pigeonhole block equi-joins + exact "
                             "bit_count(xor) on candidates; no "
                             "CartesianProduct",
    "kmv_distinct": "two-level bottom-k: per-bucket window ≤k rows, "
                    "final per-source sort ≤B·k rows; map-side "
                    "combined distinct",
    "ridge_normal_equations": "whole model fit = ONE partial+final "
                              "HashAggregate pair; no join, no window",
    "pca_covariance": "double posexplode → map-side-combined agg; "
                      "shuffle carries 2145 rows total",
    "pii_redaction": "single codegen'd projection; zero Python, zero "
                     "shuffle",
    "salted_join_agg": "join key is (l_suppkey, __salt) — hot keys "
                       "spread across 8 buckets",
    "resample_daily": "per-key spine explode + equi-join + one window "
                      "sort; no driver calendar",
    "profile_table": "ALL per-column stats in one scan (expand), then "
                     "stack pivot",
    "contamination_check": "eval n-gram set broadcasts; corpus grams "
                           "never shuffle",
    "mixture_sample": "metadata-sized sizing tables broadcast; one "
                      "per-source window",
    "semdedup": "cluster-blocked pair join; checkpointed assignment",
    "record_linkage": "blocked equi-join; no CartesianProduct",
    "pagerank_parts": "per-iteration: one rank join + one map-side-"
                      "combined sum; flat lineage",
    "zorder_layout": "z-value is pure projection; one hash agg",
    "bm25_topk": "one conditional-agg shuffle (1 row/doc); stats fold "
                 "to 1-row broadcasts; TakeOrderedAndProject",
    "rrf_hybrid_topk": "both branches TakeOrdered first; zero Window "
                       "nodes (bounded sorted-array ranks)",
    "passage_excise": "hash-keyed owner agg + equi-join; tokenize once "
                      "per row, no per-chunk re-split",
    "anomaly_zscore": "groupBy + equi-join + groupBy; no window, no "
                      "sort",
    "ewma_trailing": "all 8 lag offsets share ONE WindowExec",
    "rolling_extremes": "O(n) two-block sliding extremes: the "
                        "prefix/suffix/lag window passes share ONE "
                        "exchange on the entity key; no O(frame·n) "
                        "moving-frame re-scan, no self-join",
    "source_cap_sample_twopass": "bucket prefilter before the "
                                 "per-source rank window",
    "nb_lang_classify": "vocab-sized stats; argmax via min(struct) "
                        "agg — no window",
    "curation_pipeline_full": "four composed stages, no cartesian, "
                              "no new shuffle class",
    "heavy_hitters": "checkpointed MG summary (ONE corpus scan) → "
                     "broadcast-candidate semi-join recount; no "
                     "vocabulary-sized shuffle in the final plan",
    "collocation_pmi": "unigram count exchange reused (AQE) for the "
                       "scalar total; TakeOrderedAndProject top-k",
    "hard_negatives": "postings equi-joins only; per-query keyed "
                      "window top-k, no global sort",
    "leakage_safe_split": "dedup pair scan + star-contraction labels "
                          "+ ONE label join; split is a projection",
    "bucketed_join_agg": "both scans 'Bucketed: true'; SortMergeJoin "
                         "with no Exchange and no per-task Sort",
    "quantile_sketch_serving": "ONE scan; bottom-k via "
                               "TakeOrderedAndProject; estimates from "
                               "one sorted-array row — no window, no "
                               "shuffle join",
    "wordpiece_encode": "word table checkpointed (corpus tokenized "
                        "twice, not per-consumer); encode output "
                        "broadcasts back; vocab top-K is "
                        "TakeOrderedAndProject",
    "unigram_encode": "same shape as wordpiece_encode — Viterbi DP "
                      "is Arrow-batched over the checkpointed word "
                      "table; no SortMergeJoin",
    "token_budget_sample": "per-source totals broadcast; prefix-"
                           "closed 20-bit bucket prefilter before "
                           "the cumulative window — window input "
                           "O(B) tokens per source",
    "epoch_mix_sample": "zero Exchange: epoch fan-out is a Generate "
                        "(explode) directly above the file scan; "
                        "partial-epoch keep is a scan-stage predicate",
    "pack_bins": "ONE hash-partition Exchange to co-locate shards, "
                 "then FlatMapGroupsInPandas — the only imperative "
                 "seam; everything upstream is a codegen'd projection",
    "finwire_pyds": "PythonDataSource scan (partition-per-file) "
                    "feeding the standard prefix-parse projection — "
                    "the custom-source seam is plan-visible",
}


def dump_round(rnd: int, suffix: str, sf_dir: str) -> None:
    from dbt_tpcdi_spark.queries import all_queries
    from dbt_tpcdi_spark.session import get_spark

    out_dir = os.path.join(REPO, "plans", f"r{rnd}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"dump-r{rnd}-plans")
    only = os.environ.get(f"R{rnd}_PLANS_ONLY")
    queries = {n: q for n, q in all_queries().items() if q.headline}
    if only:
        queries = {n: q for n, q in queries.items() if n in only.split(",")}
    for name in sorted(queries):
        df = queries[name].build(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{name}: {len(plan.splitlines())} lines -> {path}")


def dump_showcase() -> None:
    from dbt_tpcdi_spark.queries import all_queries
    from dbt_tpcdi_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("dump-plans")
    qs = all_queries()
    out = [
        "# PLANS — physical-plan evidence for the scale-critical queries",
        "",
        f"Generated by `scripts/dump_plans.py` at `{sf_dir}`. Each plan is",
        "pinned by an assertion in `tests/test_plan_properties.py`; this",
        "file is the human-readable form of the same evidence.",
        "",
    ]
    for name, prop in SHOWCASE.items():
        df = qs[name].build(spark, sf_dir)
        plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils \
            .explainString(df._jdf.queryExecution(), "formatted")
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Expected property:** {prop}")
        out.append("")
        out.append("```")
        # the operator tree (part before the per-node detail blocks)
        tree = plan.split("\n\n")[0]
        out.append(tree.rstrip())
        out.append("```")
        out.append("")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--round", type=int, dest="rnd",
                    help="dump every headline plan to plans/r<N>/")
    ap.add_argument("suffix", nargs="?", default="before",
                    help="file suffix with --round (before|after)")
    ap.add_argument("sf_dir", nargs="?",
                    help="scale-factor directory to plan (with --round)")
    args = ap.parse_args()
    if args.rnd is None:
        dump_showcase()
    elif args.sf_dir is None:
        ap.error("--round needs <suffix> <sf_dir>")
    else:
        dump_round(args.rnd, args.suffix, args.sf_dir)


if __name__ == "__main__":
    main()

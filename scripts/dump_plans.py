"""Dump formatted physical plans of registered queries.

    python scripts/dump_plans.py
        regenerates PLANS.md: the plans of the representative queries in
        SHOW at sf0.001 — evidence that pushdown/pruning/broadcast/
        partial-agg actually happen.
    python scripts/dump_plans.py --out DIR --suffix S QUERY [QUERY ...]
        writes DIR/<QUERY>_<S>.txt for each named query, for before/after
        plan comparisons (run it from each tree with S = before|after;
        data from $SPARK_GRAFT_SF_DIR, sf0.1 by default).
"""

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from squirreling_spark import inventory
from squirreling_spark.session import get_spark

SF = "/root/testdata/sf0.001"
SHOW = [
    ("filter_where", "compound predicate → PushedFilters on the parquet scan"),
    ("scan_project", "4-of-11 column projection → pruned ReadSchema"),
    ("topk", "ORDER BY + LIMIT → TakeOrderedAndProject (per-partition heaps)"),
    ("join_inner", "dim joins → BroadcastHashJoin, no fact-side shuffle for dims"),
    ("hash_agg_q1", "partial_sum before Exchange → map-side combine"),
    ("q5_local_supplier", "six-way join: broadcast chain + single fact shuffle"),
    ("dedup_minhash_lsh", "explode→hash→min-aggregate→bucket join, all JVM"),
    ("asof_join_events", "as-of join: one hash shuffle + window, no range join"),
    ("positional_join", "two-level numbering: no global window, data path stays multi-partition"),
    ("knn_bruteforce", "two-stage top-k: local (__pid, q_id) ranking before the per-query combine"),
    ("knn_ivf", "IVF: max_by cell assignment (partial agg), probe join, two-stage top-k"),
    ("dedup_embedding_lsh", "hyperplane signatures row-local → band bucket join → cosine verify on candidates"),
    ("range_join_events", "binned range join: equi-join on bin + residual, no BroadcastNestedLoop"),
    ("table_profile_orders", "profile: plain aggs + separate distinct-count agg (no Expand), 1-row crossJoin"),
    ("ngram_lm_score", "bigram LM scoring: explode once, two count joins, map-combined rollup"),
    ("kmeans_embeddings", "k-means round: broadcast centroids, max_by assignment, decimal-exact means"),
    ("group_having", "distinct-agg: REPARTITION(group key) satisfies both agg levels → ONE Exchange (was 2)"),
    ("dedup_substrings", "substring dedup: hash-before-explode, two-level distinct, hash-keyed join back"),
    ("semdedup", "SemDeDup: broadcast-centroid max_by assignment, cluster-blocked in-cell join"),
    ("binary_header_parse", "BMP/PNG/JPEG/GIF header parse: pure codegen expressions, no Python eval"),
    ("quality_classifier", "hashed-linear gate: row-local fold, NO exchange, no Python eval"),
    ("dedup_bloom_incremental", "bloom prefilter: broadcast bit-set semi join, anti join only on candidates"),
    ("knn_pq_adc", "PQ ADC: broadcast codebooks/lookup table, map-combined partial sums, two-stage top-k"),
    ("knn_ivfpq", "IVF-PQ: inverted-list restriction via broadcast probes, 3 broadcast lookup tables, one map-combined reduce"),
    ("cms_top_terms", "CMS pure-sketch default (r11): map-combined cell agg -> checkpointed wide sketch broadcast, per-hash-row broadcast joins, phi-survivor-only term shuffle, TakeOrdered top-k — no exact count anywhere"),
    ("dataset_shards", "shard export: md5 shard+poskey, one hash exchange, per-shard bounded window"),
    ("temperature_mix", "alpha=0.5 mixing: tiny source agg broadcast back, row-local integer-exact keep filter"),
    ("corpus_pipeline", "curate->dedup->shard composite: classifier fused into scan, dedup groupBy + shard exchange only"),
    ("q21_waiting_supplier", "Q21: double-correlated EXISTS → ONE per-order distinct aggregate, 2 fact shuffles"),
    ("q8_market_share", "Q8: two nation roles broadcast, single fact exchange, one conditional-sum pass"),
    # round 5
    ("spatial_join", "grid-banded spatial join: JVM bbox extraction, cell hash equi-join, pandas predicate POST-join only"),
    ("spatial_dwithin_join", "distance join: radius-padded bboxes → same grid hash join, exact distance on candidates"),
    ("dialect_digest", "reference-dialect SQL through execute_sql: positional join numbering, inline JSON dispatch, ILIKE"),
    ("url_canonicalize", "URL canonicalization: one codegen parse/rebuild projection, keeper groupBy on the canonical string"),
    # round 6
    ("doc_chunking", "sliding-window chunking: one generate+posexplode projection; the only Exchange is qutil.spread's fixture repartition (single-row-group files), not operator logic"),
    ("zorder_layout_orders", "z-order layout: broadcast single-row bounds, static shift/and Morton key, one stats groupBy"),
    # round 6 continuation
    ("dedup_embedding_cosine", "block-BLAS exact ε-join: xxhash block packing (ArrowEvalPython pack), id-only range cross for pairs, bid equi-joins — no NestedLoop over vector data"),
    ("embedding_rp_project", "JL projection: ONE codegen HOF projection over the scan — Exchange-free, matrix never materialized"),
    ("knn_rp_prefilter", "RP-prefiltered ANN: broadcast projected queries, two-stage candidate top-k, exact re-rank join on candidates only"),
    ("bpe_train_merges", "BPE round shape: vocab groupBy (map-combined), pair explode+count, ONE-row argmax; replace chain is row-local"),
    ("image_resize_plan", "resize planning: header parse + scale arithmetic fused into one codegen projection over the scan"),
    # round 6, fourth session
    ("bm25_rank", "BM25: tf array folds in one scan, 1-row stats broadcast, TakeOrderedAndProject top-k — no per-term shuffle"),
    ("bpe_encode_docs", "BPE encode: broadcast word->segmentation map, posexplode + ONE combining groupBy on doc_id"),
    ("text_nfc_normalize", "NFC audit: exactly one ArrowEvalPython stage; UDF output materialized once for all consumers"),
    ("decontaminate_neardup", "cross-corpus near-dup decontamination: corpus bands shuffle, benchmark bands broadcast, Jaccard verify on candidates only"),
    ("salted_agg_skew", "salted two-phase agg: shuffle on (keys, salt) then bare keys, map-side partials both phases"),
    ("salted_join_brand", "salted fact-dim join: join key (key, salt), dimension replicated via explode"),
    ("web_host_stats", "host stats: canonicalization projection + ONE groupBy on host"),
    ("image_pixel_decode", "4-codec decode: synthesized payloads hashed across the cluster BEFORE the Arrow decode stage (no per-codec straggler)"),
    ("domain_reweight", "DoReMi rounds: row-local sample filter + |domains|-row combining groupBy per round, weights broadcast back"),
    ("dsir_sample", "DSIR: one bigram explode, four token-keyed count joins, one rollup, row-local integer keep decision"),
    # round 7
    ("remove_dup_substrings", "span removal: window hashes shuffle (8-byte keys), shared set = two-level agg, coverage explode AFTER the semi-join, tail all keyed on doc_id"),
    ("pack_sequences", "sequence packing: bucket-sum groupBy, ONE bucket-count-sized unpartitioned window, within-bucket windows + broadcast offsets — no single-task row stage"),
    ("pii_scrub", "PII scrub: one codegen regexp projection over the scan — no Python, no exchange from the operator"),
    ("image_dhash_neardup", "dhash near-dup: Arrow decode ONCE, window sub-split for the bucket cap, per-bucket collect_list + in-expression pair generation — no self-join"),
    ("lm_bucket_sample", "perplexity buckets: LM score joins, 1-row quartile agg broadcast back, row-local bucket + md5 keep decision"),
    # round 8
    ("dedup_minhash_collapsed", "collapsed MinHash: ONE scan, fingerprint groupBy, signature agg with the group size as a carried key, per-bucket collect_list pairs — ZERO joins"),
    ("image_dhash_pairs", "legacy pair-level dHash: same single-decode subtree as the collapsed default, pair expansion inside the bucket expression"),
    # round 8, second half
    ("c4_quality_filter", "C4 rules: one codegen HOF projection over the scan — line filter, sentence count, page verdict all row-local, no exchange from the operator"),
    ("wordpiece_train_merges", "WordPiece round shape: pair + token counts over the persisted vocab, broadcast count joins, ONE-row quantized-likelihood argmax"),
    ("rrf_fusion", "RRF: corpus work inside the two retrievers; fusion = union of top-k lists, one bounded groupBy, constant-size ranking window"),
    ("html_extract", "HTML extraction: block-removal regex + per-line HOF structs in one codegen projection — no Python, no exchange from the operator"),
    # round 8, third batch
    ("embedding_int8_quant", "int8 quantization: codes materialized ONCE in a staged projection; fingerprint/clip/error reuse the column — row-local, no exchange"),
    ("mix_epoch_schedule", "epoch schedule: one map-combined per-source agg, 1-row broadcast total, decimal(38,0) integer arithmetic downstream"),
    ("events_sliding_window", "sliding windows: native window(ts, 1h, 30m) expansion + partial/final agg — two state rows per event, no custom explode"),
    ("markdown_sections", "markdown sectioning: heading positions + boundaries + per-section stats as HOFs over one split, then a single posexplode"),
    ("lsh_recall_curve", "LSH recall harness: row-local planting, production band join over base+variants, sample-sized truth join"),
    ("sample_per_group", "k-per-group sampling: local (__pid, group) rank prune before the per-group combine — both windows bounded"),
    ("source_drift_tv", "TV drift: vocab-sized token aggregates, broadcast totals, off-source mass factored — nothing above vocab size shuffles"),
    ("ann_recall_curve", "IVF recall harness: shared brute-force baseline, per-nprobe probe joins, bounded verdict aggregates"),
    ("robots_filter", "robots gate: per-host group windows on the tiny robots side, broadcast rule arrays, row-local longest-match verdict"),
    ("events_resample_locf", "resampling: per-key sequence explode grid, map-combined hour aggregates, LEFT fill + one LOCF running window per key"),
    ("events_winsorize", "winsorization: one percentile aggregate per key broadcast back over a row-local clamp pass"),
    ("events_funnel", "funnel: four chained min-struct aggregates over shrinking step tables — no per-user history collection"),
    ("events_cohort_retention", "cohorts: first-event + distinct-week aggregates, one join back, matrix-sized output"),
    # round 8, batches 4-7
    ("fuzzy_name_matches", "SymSpell fuzzy join: deletion-variant explode, hash equi-join on the variant, distinct pairs, codegen levenshtein verify — no Cartesian/BNLJ anywhere"),
    ("scd2_intervals", "SCD2 build: change-detect + run-number windows fused on ONE user-keyed shuffle, run groupBy, run-level lead on the same partitioning"),
    ("event_pattern_match", "session patterns: sessionize window, bounded per-session struct collect + sort, row-local regex verdicts"),
    ("attribution_linear", "linear attribution: (user, time-bin)-keyed hash join, per-purchase count window, decimal-exact credit rollup"),
    ("sample_weighted_systematic", "systematic PPS: bucket-sum groupBy, ONE bucket-table window, within-bucket cumsums + broadcast offsets — no single-task data window"),
    ("part_triangle_stats", "triangles: checkpointed edge leaf, degree-ordered orientation, wedge equi-join + (x,y) closure probe — hash joins only"),
    ("events_trend_ols", "OLS trend: ONE map-combined aggregate; slope/intercept row-local from the 5-row summary"),
    ("token_cooccurrence", "co-occurrence: within-doc pair join (bounded by doc size), map-combined pair count, TakeOrderedAndProject top-50"),
    ("events_transition_matrix", "transition matrix: one lag window, map-combined pair count, |states|^2-row normalizer window"),
    ("rfm_segmentation", "RFM: 1-row quantile aggregate broadcast back, row-local bucket comparisons — no global ntile sort"),
    ("embedding_dim_stats", "dim stats: posexplode + ONE map-combined groupBy(dim) — exchange carries O(partitions x dims)"),
    ("fact_scd2_lookup", "SCD2 lookup: interval build on the customer shuffle, (customer, 90d-bin) equi-join + residual BETWEEN, bounded open-interval cap"),
    # round 9
    ("events_debounce", "debounce/throttle: ONE key-partitioned lag window, row-local keep flags — no global order"),
    ("docs_ngram_novelty", "5-gram novelty: gram-keyed map-combined aggregates + one hash join back — no pair explosion"),
    ("docs_split_assign", "stratified hash split: row-local Knuth-hash assignment, map-combined counts, broadcast per-source totals"),
    ("token_pair_lift", "pair lift: bounded within-doc pair join, DF hash joins, 1-row broadcast total, TakeOrderedAndProject top-50"),
    # round 10
    ("docs_communities", "label propagation: per-round label tables are checkpointed leaves (flat plan at any iters); final plan = ONE label-sized join + comm-size agg over the leaf"),
    ("docs_langid", "char-trigram language ID: profile compiled INTO one codegen projection — no join, no explode, no exchange; scores at scan speed"),
    ("events_hll_users", "HLL distinct sketch: row-local value/bucket/rho projection, register groupBy-max + estimate groupBy-sum — two map-combined exchanges, registers move instead of keys"),
    ("docs_hll_ngrams", "HLL n-gram diversity (pure default, r11): gram explode feeds the register sketch; exactly two map-combined exchanges, ZERO joins — exact exhibit lives in _vs_exact"),
    ("events_user_overlap", "HLL register algebra (pure default, r11): checkpointed register leaf, broadcast pair membership, bucket-wise MAX union merge, inclusion-exclusion, broadcast output joins — no distinct self-join, no SortMergeJoin"),
    # round 11
    ("docs_length_quantiles", "quantile sketch: row-local bin(v) bucket projection, map-combined sketch groupBy, cumsum windows + rank pick over BUCKET rows — two exchanges, no joins, no data-sized sort"),
    ("docs_length_cdf", "CDF read of the quantile sketch: literal probe array explodes row-locally (Generate, never a join) against BUCKET rows, one map-combined (source, probe) aggregation — two exchanges total"),
    ("events_value_quantiles", "quantile sketch, double path: floor(value*1000) fixed-point fold then the identical integer bucket contract"),
]


def explain(spark, name: str, sf: str) -> str:
    df = inventory.QUERIES[name](spark, sf)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def write_plans_md():
    spark = get_spark("plan-dump", cpus=8)
    out = [
        "# PLANS — physical-plan evidence (generated by scripts/dump_plans.py",
        f"# at sf0.001; regenerate after plan-affecting changes)\n",
    ]
    for name, why in SHOW:
        plan = explain(spark, name, SF)
        out.append(f"\n## {name}\n\n*{why}*\n\n```\n{plan.strip()}\n```\n")
    Path("PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(out)} sections)")


def write_plan_files(out_dir: Path, suffix: str, names: list[str]):
    out_dir.mkdir(parents=True, exist_ok=True)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", SF.replace("sf0.001", "sf0.1"))
    spark = get_spark(f"plan-dump-{suffix}")
    for name in names:
        txt = explain(spark, name, sf)
        (out_dir / f"{name}_{suffix}.txt").write_text(txt)
        print(f"wrote {name}_{suffix}.txt ({len(txt)} bytes)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", type=Path, help="directory for per-query files")
    ap.add_argument("--suffix", help="file-name suffix, e.g. before|after")
    ap.add_argument("queries", nargs="*", help="registered query names")
    args = ap.parse_args()
    inventory.load_all()
    if not args.queries:
        write_plans_md()
    elif args.out is None or args.suffix is None:
        ap.error("--out and --suffix are required with query names")
    else:
        write_plan_files(args.out, args.suffix, args.queries)


if __name__ == "__main__":
    main()

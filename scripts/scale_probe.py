"""Scale probe: replicate a testdata scale F-fold with one of four replica
recipes and time registered queries at 1x and at each factor, to check
that operators scale near-linearly.

Recipes (each a named function below; the tables a recipe does not
replicate are symlinked from the source):

- ``plain``: every table's keys offset per replica (``KEYS``); text and
  names are duplicated.
- ``operator_aware``: new customer keys with names regenerated from them,
  lineitem order AND part keys offset (disjoint co-order graphs), disjoint
  event users, offset orders and documents. Offsetting only a key would
  duplicate name strings and densify one graph instead of growing F
  independent ones: a harness-made quadratic, not an operator property.
- ``disjoint_tokens``: documents with a per-replica suffix on every
  token, so each replica keeps its shingle structure while gram sets
  across replicas are disjoint (F independent similarity graphs).
- ``salted``: documents whose replicas append two salt tokens: near-
  duplicates of the source, never byte-identical, the realistic load for
  LSH near-dup operators.

A query set (``SETS``) names its queries with the recipe each is probed
on. Each row reports best-of-2 seconds, output rows, time per unit
(``t/unit``, time / (1x time × F)) and rows per unit; queries in
``INVARIANT`` also report whether their semantic projection matches 1x
(replicas duplicate text, so those outputs must not change).

Usage::

    python scripts/scale_probe.py --src data/sf0.1 --queries b45 \\
        --factors 3 10 30
    python scripts/scale_probe.py --src data/sf0.001 --factors 2 \\
        --queries salted hash_agg_q1 --recipe plain

``--src`` defaults to ``$SPARK_GRAFT_SF_DIR``. A query name outside
``SETS`` runs on ``--recipe`` (default ``plain``), which also overrides
the recipes of named sets. Replicas are written under ``--dst`` once per
(source, recipe, factor) and reused. Run it alone on the host:
concurrent jobs contaminate the timings.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from squirreling_spark import inventory  # noqa: E402
from squirreling_spark.session import get_spark  # noqa: E402

TABLES = [
    "customer", "documents", "embeddings", "events", "lineitem", "nation",
    "orders", "part", "region", "supplier",
]
# table -> key columns offset by replica × (max key + 1)
KEYS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
}


def plain():
    return {t: (keys, {}) for t, keys in KEYS.items()}


def operator_aware():
    name = F.format_string("Customer#%09d", F.col("c_custkey"))
    return {
        "customer": (["c_custkey"], {"c_name": name}),
        "lineitem": (["l_orderkey", "l_partkey"], {}),
        "events": (["event_id", "user_id"], {}),
        "orders": (["o_orderkey", "o_custkey"], {}),
        "documents": (["doc_id"], {}),
    }


def disjoint_tokens():
    text = F.expr(
        "array_join(transform(split(text, ' '),"
        " t -> concat(t, '_', CAST(__rep AS STRING))), ' ')"
    )
    return {"documents": (["doc_id"], {"text": text})}


def salted():
    # replica r > 0 of a doc appends tokens varying by replica and doc
    rep = F.col("__rep")
    salt = F.concat(
        F.col("text"), F.lit(" salt"), rep.cast("string"), F.lit(" mark"),
        (F.col("doc_id") % 13).cast("string"),
    )
    text = F.when(rep == 0, F.col("text")).otherwise(salt)
    return {"documents": (["doc_id"], {"text": text})}


RECIPES = {f.__name__: f for f in (plain, operator_aware, disjoint_tokens,
                                   salted)}


def replicate(spark, src: str, dst: str, recipe: str, factor: int) -> str:
    """Write the ``recipe`` replica of ``src`` at ``factor`` (once)."""
    out = f"{dst}/{Path(src).name}_{recipe}_{factor}x"
    if os.path.exists(f"{out}/_done"):
        return out
    os.makedirs(out, exist_ok=True)
    spec = RECIPES[recipe]()
    reps = spark.range(factor).withColumnRenamed("id", "__rep")
    for table in TABLES:
        path = f"{src}/{table}.parquet"
        if table not in spec:
            if not os.path.lexists(f"{out}/{table}.parquet"):
                os.symlink(os.path.abspath(path), f"{out}/{table}.parquet")
            continue
        keys, cols = spec[table]
        df = spark.read.parquet(path)
        n_max = df.agg(*[F.max(k) + 1 for k in keys]).head()
        df = df.crossJoin(reps)
        for k, n in zip(keys, n_max):
            df = df.withColumn(k, F.col(k) + F.col("__rep") * n)
        for c, expr in cols.items():  # after the keys: names read them
            df = df.withColumn(c, expr)
        df.drop("__rep").repartition(32).write.mode("overwrite").parquet(
            f"{out}/{table}.parquet"
        )
    Path(f"{out}/_done").write_text("ok")
    return out


def _cc_distributed(spark, sf_dir):
    """dedup_clusters with the distributed connected-components arm
    forced (driver_threshold=0): the arm a >5M-edge collision graph
    takes."""
    from squirreling_spark.pipeline.dedup import (
        connected_components,
        minhash_lsh_candidates,
    )
    from squirreling_spark.qutil import t

    pairs = minhash_lsh_candidates(
        t(spark, sf_dir, "documents"), "text", "doc_id", 32, 8, 3
    )
    return connected_components(pairs, "id_a", "id_b", driver_threshold=0)


EXTRA = {"dedup_clusters_distarm": _cc_distributed}

_HEADLINE = """
hash_agg_q1 join_inner topk q3_shipping_priority dedup_minhash_lsh
dedup_simhash text_quality text_digest knn_bruteforce knn_ivf
dedup_embedding_lsh positional_join events_sessionize range_join_events
sessions_overlap dedup_clusters kmeans_embeddings table_profile_orders
ngram_lm_score embedding_outliers pagerank_docs knn_ivf_trained
binary_header_parse quality_classifier dedup_bloom_incremental knn_pq_adc
knn_ivfpq audio_pcm_decode video_mp4_meta image_pixel_decode cms_top_terms
dataset_shards temperature_mix corpus_pipeline q8_market_share
q21_waiting_supplier dedup_substrings semdedup spatial_join
url_canonicalize dedup_minhash_stream doc_chunking zorder_layout_orders
image_dhash_neardup dedup_embedding_cosine events_session_stream
events_stream_join bpe_train_merges bpe_subword_freqs embedding_rp_project
knn_rp_prefilter video_frame_plan image_resize_plan bm25_rank
text_nfc_normalize bpe_encode_docs dedup_stream_exact decontaminate_neardup
salted_agg_skew salted_join_brand web_host_stats domain_reweight
dsir_sample dedup_clusters_distarm
"""
_B45 = """
fuzzy_name_matches part_triangle_stats scd2_intervals event_pattern_match
attribution_linear events_trend_ols events_transition_matrix
rfm_segmentation session_path_topk text_lexical_diversity
sample_weighted_systematic token_cooccurrence build_postings
lineitem_corr_matrix customer_pareto_abc
"""
# set name -> {query: recipe}
SETS = {
    "headline": dict.fromkeys(_HEADLINE.split(), "plain"),
    "b45": dict.fromkeys(_B45.split(), "operator_aware"),
    "r9": dict.fromkeys(
        ["fuzzy_name_matches", "part_triangle_stats"], "operator_aware"
    ),
    "r9b": dict.fromkeys(
        ["events_debounce", "docs_split_assign", "docs_ngram_novelty",
         "token_pair_lift"], "operator_aware",
    ),
    "r10": {"docs_communities": "disjoint_tokens", "docs_langid": "plain",
            "events_hll_users": "plain"},
    "r11": {"docs_length_quantiles": "plain", "cms_top_terms": "plain",
            "docs_hll_ngrams": "disjoint_tokens",
            "events_user_overlap": "plain",
            "docs_token_mass_quantiles": "plain",
            "sources_gram_overlap": "disjoint_tokens"},
    "r12": {"docs_length_cdf": "plain", "events_user_overlap": "plain",
            "sources_gram_overlap": "disjoint_tokens"},
    "salted": dict.fromkeys(
        ["dedup_minhash_lsh", "decontaminate_neardup", "image_dhash_neardup"],
        "salted",
    ),
}
# query -> the columns of its output that replication must leave unchanged
_QUANTILES = ["source", "q_ppm", "q_lo", "q_hi", "q_est"]
INVARIANT = {
    "docs_length_quantiles": _QUANTILES,
    "docs_token_mass_quantiles": _QUANTILES,
    "cms_top_terms": ["term"],
    "docs_length_cdf": ["source", "probe", "cdf_lo_ppm", "cdf_hi_ppm"],
}


def run_query(spark, name: str, sf_dir: str):
    """(best-of-2 seconds, output rows, sorted invariant projection)."""
    fn = EXTRA.get(name) or inventory.QUERIES[name]
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    df = fn(spark, sf_dir)
    cols = INVARIANT.get(name)
    proj = sorted(map(tuple, df.select(*cols).collect())) if cols else None
    return best, df.count(), proj


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--src", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--dst", default="/tmp/sq_scale")
    ap.add_argument("--factors", type=int, nargs="+", default=[3, 10, 30])
    ap.add_argument("--queries", nargs="+", default=["headline"],
                    help=f"query names or sets: {', '.join(SETS)}")
    ap.add_argument("--recipe", choices=RECIPES)
    args = ap.parse_args(argv)
    if not args.src:
        ap.error("--src or SPARK_GRAFT_SF_DIR names the source scale")
    inventory.load_all()
    plan = {}
    for q in args.queries:
        for name, recipe in SETS.get(q, {q: "plain"}).items():
            plan[name] = args.recipe or recipe
    unknown = [q for q in plan if q not in {**EXTRA, **inventory.QUERIES}]
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    spark = get_spark("scale-probe")
    base = {q: run_query(spark, q, args.src) for q in plan}
    for q, (t0, n0, _) in base.items():
        print(f"  [1x] {q}: {t0:.2f}s rows={n0}", flush=True)
    for f in args.factors:
        for q, recipe in plan.items():
            dst = replicate(spark, args.src, args.dst, recipe, f)
            (tt, n, proj), (t0, n0, proj0) = run_query(spark, q, dst), base[q]
            same = "" if proj is None else f" invariant={proj == proj0}"
            print(
                f"  [{f}x {recipe}] {q}: {tt:.2f}s t/unit={tt / (t0 * f):.2f}"
                f" rows={n} r/unit={n / (max(n0, 1) * f):.2f}{same}",
                flush=True,
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())

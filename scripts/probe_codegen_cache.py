"""A/B probe: does codegen-cache eviction between interleaved bench passes
explain the image_pixel_decode / audio_pcm_decode blow-up in full-bench
context? Runs 3 passes; each pass runs the 3 media rows in TARGETS, then
the 8 rows in FILLER (trainers and dedup). Run it once with the default
100-entry codegen cache and once with SPARK_GRAFT_CODEGEN_CACHE entries,
in the SAME process layout as bench.py (fresh JVM per invocation — run
this script twice).

Usage: SPARK_GRAFT_CODEGEN_CACHE=10000 python scripts/probe_codegen_cache.py

Environment (all optional):
  SPARK_GRAFT_CODEGEN_CACHE              spark.sql.codegen.cache.maxEntries
  SPARK_GRAFT_PROBE_NO_FILLER            any value: skip the FILLER rows,
                                         so only the TARGETS run
  SPARK_GRAFT_PROBE_CLEAR_RELATION_CACHE any value: call
                                         spark.catalog.clearCache() after
                                         every row. That empties the
                                         in-memory RELATION cache, not the
                                         codegen cache: it probes the
                                         relation-cache confound, not
                                         codegen eviction.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from squirreling_spark import inventory
from squirreling_spark.session import get_spark

inventory.load_all()

sf_dir = "/root/testdata/sf0.1"
extra = {}
if os.environ.get("SPARK_GRAFT_CODEGEN_CACHE"):
    extra["spark.sql.codegen.cache.maxEntries"] = os.environ[
        "SPARK_GRAFT_CODEGEN_CACHE"
    ]
spark = get_spark("codegen-cache-probe", extra_conf=extra)
inventory.QUERIES["count_star"](spark, sf_dir).collect()

FILLER = [
    "kmeans_embeddings", "knn_ivf_trained", "knn_pq_adc", "knn_ivfpq",
    "bpe_train_merges", "wordpiece_train_merges", "pagerank_docs",
    "dedup_clusters",
]
if os.environ.get("SPARK_GRAFT_PROBE_NO_FILLER"):
    FILLER = []
TARGETS = ["image_pixel_decode", "audio_pcm_decode", "video_mp4_meta"]

# relation cache (cached DataFrames), not the codegen cache — see above
CLEAR = bool(os.environ.get("SPARK_GRAFT_PROBE_CLEAR_RELATION_CACHE"))

for p in range(3):
    for name in TARGETS:
        fn = inventory.QUERIES[name]
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        print(f"pass{p} {name}: {time.perf_counter()-t0:.2f}s", flush=True)
        if CLEAR:
            spark.catalog.clearCache()
    t0 = time.perf_counter()
    for name in FILLER:
        fn = inventory.QUERIES[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        if CLEAR:
            spark.catalog.clearCache()
    print(f"pass{p} filler done ({time.perf_counter()-t0:.1f}s)", flush=True)
print("cache entries conf:", spark.conf.get("spark.sql.codegen.cache.maxEntries", "default"))

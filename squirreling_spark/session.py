"""SparkSession factory with the engine's default configuration.

The reference engine (hyparam/squirreling) runs with JavaScript semantics:
``CAST('abc' AS INT)`` yields NULL, ``1/0`` yields NULL
(reference: src/expression/binary.js:15-24, src/expression/evaluate.js:699-738).
Spark matches those semantics with ANSI mode OFF, so the session defaults to
``spark.sql.ansi.enabled=false``. Everything is UTC
(reference dates are UTC-based, src/expression/date.js).

Scale notes (100 TB target):
- AQE on: runtime coalescing, skew-join splitting, dynamic join selection.
- shuffle partitions sized for the local harness via SPARK_GRAFT_CPUS; on a
  real cluster this should be ~2-3x total cores or left to AQE's
  ``coalescePartitions`` with a high initial partition number.
- Arrow enabled for all pandas interchange (vectorized Python boundary).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The directory holding the ``squirreling_spark`` package. Python UDF
# workers import the package from here whatever the driver's working
# directory is.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "squirreling_spark",
    cpus: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    Python workers get ``PACKAGE_ROOT`` on their ``PYTHONPATH``
    (``spark.executorEnv.PYTHONPATH``) so UDF queries run from any
    working directory; an ``extra_conf`` value for that key wins."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # r12 optimization round (guide §3.1): raise the broadcast-join
        # ceiling from the 10 MB default. Dimension/sketch/adjacency
        # sides in the 10-64 MB band (e.g. part_triangle_stats' oriented
        # edge list, 11 MB at sf0.1) otherwise sort-merge with the full
        # payload shuffled + sorted; a 64 MB broadcast is well inside a
        # production executor's budget (guide: "a few hundred MB is
        # usually fine") and AQE re-checks against RUNTIME sizes, so a
        # side that outgrows the ceiling at scale falls back to a
        # shuffle join on its own. Override per deployment via env.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_BROADCAST_THRESHOLD", "64m"),
        )
        # AQE sort-merge -> shuffled-hash conversion (guide §3.1): when
        # every post-shuffle partition is under this bound, hashing
        # beats sorting and cannot OOM (the bound IS the build size).
        # 64 MB matches the broadcast ceiling; default 0 keeps the
        # conversion off upstream, so this is opt-in by configuration
        # and scale-safe by construction (partitions larger than the
        # bound keep sort-merge).
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "64m"),
        )
    )
    conf = {"spark.executorEnv.PYTHONPATH": PACKAGE_ROOT, **(extra_conf or {})}
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

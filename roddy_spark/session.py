"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for the crawl workload (SURVEY.md §4): AQE on (skew joins in the
visited anti-join), Arrow on (all Python stages are pandas UDFs), and
shuffle partitions sized to the core count for local mode. ``ENGINE_CONF``
holds the settings that do not depend on the box; the spark-submit
entry points in ``scripts/`` apply it too, and take master, memory and
parallelism from spark-submit.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # PySpark 4 captures the Python call site of every functions, Column
    # and DataFrame call for analysis errors, at about 10 py4j round
    # trips each (F.col costs 13; building one crawl-batch ``admit`` plan
    # takes 593 round trips with it, 273 without). Errors then name the
    # failing expression without its Python line.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Generated classes live in one JVM-wide cache, built once from the
    # conf of the session active at the JVM's first codegen, so a later
    # session cannot resize it. It is a Guava cache split into 4 segments,
    # each with its own LRU: Spark's default of 100 entries keeps about 25
    # per segment. One cleaning level (frontier level, exact dedup,
    # Jaccard and connected components) uses about 188 distinct classes
    # and two crawl batches about 125, so with the default each level
    # recompiled 183 classes it had compiled before, and each crawl batch
    # 34-52. At 1000 (about 250 per segment) a repeated level compiles
    # none and a repeated crawl batch 2 (AQE re-plans aside), and the
    # cache has room for the crawl, the cleaning operators and the
    # contract queries in one JVM.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def build_session(app_name: str = "roddy-spark", cores: int | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores or (os.cpu_count() or 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # floor scan parallelism at 2 waves per core (scale-adaptive: the
        # knob tracks cluster width, it is not a size constant) — the
        # 128 MiB default split packs a bench-scale table into a handful
        # of tasks and leaves most cores idle through every scan stage;
        # tiny inputs are unaffected (openCostInBytes still bounds
        # over-splitting of small files)
        .config("spark.sql.files.minPartitionNum",
                str(2 * (cores or (os.cpu_count() or 8))))
        .config(map=ENGINE_CONF)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("RODDY_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

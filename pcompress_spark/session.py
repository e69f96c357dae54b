"""SparkSession construction with scale-aware defaults.

The reference sizes its pipeline by hand (worker threads = ncpus,
chunk size by level, index memory budget: /root/reference/pcompress.c:
2446-2473, /root/reference/rabin/global/index.c:119-215). Here that becomes
a handful of Spark confs; everything else (spill, pipelining, partial
aggregation) is the framework's job.

Scale notes (100 TB / 1000-executor design point):
- AQE on: runtime coalescing + skew-join splitting replaces the reference's
  hand-tuned memory budget / eviction heuristics.
- Arrow batch size bounds the signature UDF's working set:
  batch_rows x avg_shingles x (num_perm/perm_chunk) x 8B per task.
- shuffle_partitions: 32 locally; on a real cluster set ~2-3x total cores
  (or rely on AQE coalescing from a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pcompress-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    # 512 docs/batch keeps each Python worker's kernel working set ~100 MB;
    # with 32 workers + the JVM heap that fits comfortably in box RAM —
    # larger batches measurably thrash (workers x working-set > free RAM)
    arrow_batch_rows: int = 512,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # master="inherit" leaves spark.master to the launcher (spark-submit
    # --master ...); calling builder.master() here would silently override
    # the cluster master with local mode. None keeps the local default for
    # direct `python` invocations (bench, tests, tools).
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or (int(cpus) if cpus.isdigit() else 32)
    b = SparkSession.builder.appName(app_name)
    if master != "inherit":
        b = b.master(master)
    b = (
        b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # shuffle-block codec. zstd blocks are ~30-40% smaller than lz4 (less network on a real
        # cluster) but measured 10-20% SLOWER end-to-end on this single box
        # at >=4 cores — shuffle bytes never leave the page cache here, so
        # the extra compression CPU buys nothing; default stays lz4
        .config("spark.io.compression.codec", "lz4")
        # LOCAL MODE ONLY: skip shuffle-block compression entirely — blocks
        # live in the page cache, and at 32 task threads the codec's
        # allocation churn measurably inflates the array-heavy exchanges
        # (A/B at local[32]: off won every attempt, best 81 s vs lz4 118 s,
        # pairs stage 15-18 s vs 15-40 s). A real cluster shuffles over the
        # network, where compression pays — so the default flips only when
        # the master is local.
        .config("spark.shuffle.compress",
                "false" if master.startswith("local") else "true")
        # local mode: the driver JVM hosts ALL task threads — an undersized
        # heap GC-thrashes the text shuffle (measured 4-6x slowdown at 8g),
        # while an oversized one starves the 32 Python workers of RAM
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Cap plan-tree explain strings: AQE re-renders the WHOLE plan's
        # explain string on every stage materialization (onUpdatePlan ->
        # QueryExecution.explainString) even with the UI disabled, and
        # multi-stage compositions here carry plans whose rendered form
        # runs to megabytes — thread dumps during a cascade count showed
        # the driver pinned in generateTreeString (~1 s per job; the
        # composed doc-curation count dropped 10.9 s -> 5.4 s from this
        # cap alone). 128 KB keeps human-readable plans intact; tooling
        # that needs full plans (tools/dump_plans.py) overrides via
        # extra_conf.
        .config("spark.sql.maxPlanStringLength", str(128 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

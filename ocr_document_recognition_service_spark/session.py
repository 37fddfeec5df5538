"""SparkSession factory tuned for this engine.

Local-mode knobs mirror what a 1000-executor cluster profile would set:
AQE on (runtime re-plan + skew handling), Arrow batching for the
extraction UDFs, shuffle partitions sized to parallelism.  On a real
cluster, only master/memory change; the SQL confs carry over.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "ocr-document-recognition-service-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    # r8 re-measured on the current host: per-batch JVM↔Python overhead
    # dominates at 1024 rows (50k-doc extraction 3.68 s); 2048–8192 sit
    # on a flat plateau (2.13/2.08/2.06 s) — 4096 picked mid-plateau.
    # Memory stays bounded for fat rows (images, PDFs) by Spark 4's
    # spark.sql.execution.arrow.maxBytesPerBatch, default 64 MB, which
    # caps a batch by bytes before the record cap is reached.
    arrow_batch: int = 4096,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(32, 2 * cores)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r8 (guide §3.1/§9): let the planner pick shuffled-hash over
        # sort-merge when its size conditions hold — skips both sort
        # passes (measured −5..12% on q3/q5/dd5 at sf1.0).  The AQE
        # threshold bounds the per-partition build side to 128 MB, so
        # the OOM risk SHJ trades for speed stays capped on a cluster
        # (same setting, executor-memory-scaled, in a real profile).
        # That bound exists ONLY under AQE: a shuffled-hash join that
        # the static planner picks (AQE off, or size stats that
        # underestimate the build side) has no 128 MB cap and, unlike
        # sort-merge, cannot spill its build side.  This setting is
        # safe only while spark.sql.adaptive.enabled stays "true" above
        # — an ``extra`` override that turns AQE off must also drop it.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "134217728",
        )
        # r8 (guide §2.2 — M×R shuffle-block growth): with ≤200 reduce
        # partitions Spark's bypass-merge writer creates one file PER
        # (map task, reduce partition); on hosts where file creation is
        # slow that M×R cost dominates small shuffles (measured here:
        # a 32-map → 64-reduce tiny shuffle 1.05 s → 0.28 s with the
        # serialized sort writer, which writes ONE spill file per map
        # task).  0 disables the bypass path everywhere — the same
        # writer Spark itself picks whenever R > 200, so the choice is
        # scale-neutral, not a local[32] tune.
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
